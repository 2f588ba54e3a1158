"""Physical-plan quality gates — the 100 TB checklist as assertions.

- the binary pages scan is column-pruned to (url, html) even though
  required-schema pruning stops at mapInPandas (explicit select upstream);
- filters reach the parquet scan (PushedFilters);
- the small dimension side of a join broadcasts;
- the relational tail runs inside WholeStageCodegen;
- no per-row Python in engine code (iterrows/itertuples lint; the
  reference model mirrors the reference's row loops on purpose and is
  exempt);
- every engine module has an importer outside tests/;
- the fan-out decision runs no Spark job while the plan is built.
"""

import os
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from image_pdf_ocr_suite_spark import ExtractConfig, extract_pages, fixtures

import reference_spellings as ref

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    rows = [(i, " ".join(f"w{j}" for j in range(10)), "ja") for i in range(30)]
    spark.createDataFrame(fixtures.build_pages_pdf(rows)).write.parquet(path)
    return path


def test_pages_scan_is_column_pruned(spark, pages_parquet):
    """A job that extracts text must not read the text/lang/warc_ts columns;
    only (url, html) may reach the scan."""
    df = spark.read.parquet(pages_parquet)
    res = extract_pages(df, ExtractConfig(cache_decoded=False), run_id="plan")
    plan = _plan(res.pages)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"url", "html"}, f"scan reads {cols}"


def test_filter_pushdown_reaches_scan(spark):
    df = entrymod.q_conf_threshold_filter(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters:" in plan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(value,50.0\)", plan), plan


def test_join_broadcasts_small_side(spark):
    plan = _plan(entrymod.q_join_agg_segment(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_relational_tail_has_codegen(spark):
    df = entrymod.q_tpch_q1_exactstats(spark, SF_DIR)
    df.collect()  # finalize the AQE plan — codegen shows in the final plan
    plan = _plan(df)
    # "*(n)" prefixes mark WholeStageCodegen spans in the compact plan
    assert re.search(r"\*\(\d+\) HashAggregate", plan), plan


def test_ocr_stage_partitioning_is_explicit(spark, pages_parquet):
    """The exchange feeding the OCR kernel must hash on (url, page) with an
    explicit partition count (AQE must not coalesce the CPU-bound stage)."""
    df = spark.read.parquet(pages_parquet)
    res = extract_pages(df, ExtractConfig(cache_decoded=False), run_id="plan")
    plan = _plan(res.pages)
    assert re.search(r"hashpartitioning\(xxhash64\(url#\d+, page#\d+", plan), plan


# refmodel/goldens mirror the reference's row-at-a-time loops by design:
# they are the single-process oracle side, never engine code
NO_ROW_LOOPS_EXEMPT = {"refmodel.py", "goldens.py"}


def test_no_per_row_python_in_engine():
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "image_pdf_ocr_suite_spark")
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py") or f in NO_ROW_LOOPS_EXEMPT:
                continue
            src = open(os.path.join(dirpath, f)).read()
            for pat in (".iterrows(", ".itertuples(", ".toLocalIterator("):
                if pat in src:
                    offenders.append((f, pat))
    assert not offenders, offenders


def _imported_modules(path: str, package: str) -> set[str]:
    """Dotted names a source file imports, with every parent package
    (``import a.b.c`` imports ``a`` and ``a.b`` too); ``from x import y``
    counts both ``x`` and ``x.y`` since ``y`` may be a submodule."""
    import ast

    names = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:           # relative: resolve against package
                pkg = package.split(".")
                base = ".".join(pkg[:len(pkg) - node.level + 1]
                                + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for n in names:
        parts = n.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def test_every_engine_module_has_a_non_test_importer():
    """Each module under image_pdf_ocr_suite_spark/ is imported by some
    OTHER file of the engine, jobs/ or __spark_entry__.py — a module that
    only tests import is a second spelling to wire in or delete."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    modules = {}                     # dotted name -> path
    for dirpath, _dirs, files in os.walk(
            os.path.join(repo, "image_pdf_ocr_suite_spark")):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                name = os.path.relpath(path, repo)[:-3].replace(os.sep, ".")
                modules[name.removesuffix(".__init__")] = path
    sources = dict(modules)
    for f in os.listdir(os.path.join(repo, "jobs")):
        if f.endswith(".py"):
            sources[f"jobs.{f[:-3]}"] = os.path.join(repo, "jobs", f)
    sources["__spark_entry__"] = os.path.join(repo, "__spark_entry__.py")
    importers: dict[str, set[str]] = {}
    for name, path in sources.items():
        package = name if path.endswith("__init__.py") \
            else name.rpartition(".")[0]
        for mod in _imported_modules(path, package):
            importers.setdefault(mod, set()).add(path)
    orphans = sorted(m for m, p in modules.items()
                     if not importers.get(m, set()) - {p})
    assert not orphans, orphans


def test_fan_out_runs_no_job_on_exchange_fed_frame(spark):
    """fan_out_small decides at plan-build time: on a groupBy-fed frame
    it must not run the upstream exchange stage (under AQE,
    ``df.rdd.getNumPartitions()`` would, to learn the coalesced count)."""
    from image_pdf_ocr_suite_spark.partitioning import fan_out_small

    sc = spark.sparkContext
    agg = (spark.range(0, 20000)
           .groupBy((F.col("id") % 97).alias("k"))
           .agg(F.count(F.lit(1)).alias("n")))
    group = "fan-out-plan-build"
    sc.setJobGroup(group, group)
    try:
        fan_out_small(agg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_token_count_bpe_is_map_only(spark):
    plan = _plan(entrymod.q_token_count_bpe(spark, SF_DIR))
    assert "Exchange" not in plan, plan        # pure projection, no shuffle


def test_winnow_single_shuffle(spark):
    # arrow default: per-row dedup inside the kernel + ONE global
    # distinct exchange over the pre-deduped slivers
    plan = _plan(entrymod.q_winnow_fingerprints(spark, SF_DIR))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("MapInPandas") == 1, plan
    # the SQL-mirroring catalyst spelling keeps its single-shuffle,
    # zero-Python plan
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cplan = _plan(ref.winnow_fingerprints(docs))
    assert cplan.count("Exchange") == 1 and "MapInPandas" not in cplan, cplan


def test_salted_agg_two_phase_shuffles(spark):
    plan = _plan(entrymod.q_salted_user_stats(spark, SF_DIR))
    assert re.search(r"hashpartitioning\(user_id#\d+L?, __salt", plan), plan
    assert re.search(r"hashpartitioning\(user_id#\d+L?, \d+\)", plan), plan


def test_anti_join_is_hash_join(spark):
    plan = _plan(entrymod.q_anti_join_customers(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "LeftAnti" in plan, plan


def test_near_dup_lsh_id_only_candidate_shuffle(spark):
    """The candidate-dedup exchange must carry only the id pair — vectors
    join back strictly after."""
    plan = _plan(entrymod.q_embedding_near_dup(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    m = re.search(r"Exchange hashpartitioning\(id_a#\d+L, id_b#\d+L", plan)
    assert m, plan


def test_asof_join_single_exchange_no_range_join(spark):
    """The as-of join must be union + window (one exchange on the key,
    one sort), never a range/theta join (no BroadcastNestedLoop or
    CartesianProduct) — the range form explodes on hot keys."""
    plan = _plan(entrymod.q_asof_join_views(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan          # not even an equi-join
    assert plan.count("Window") >= 1
    # exactly one single-key exchange on user_id feeds the window (the
    # two union legs share it); the (user_id, ts) composite exchange is
    # the right-side dedup aggregate, not a second timeline shuffle
    assert len(re.findall(r"hashpartitioning\(user_id#\d+L?, \d+\)", plan)) == 1


def test_chunk_documents_is_map_only(spark):
    """Chunking must be a flatMap on the scan — zero exchanges."""
    plan = _plan(entrymod.q_chunk_documents(spark, SF_DIR))
    assert "Exchange" not in plan


def test_stratified_sample_is_scan_side_predicate(spark):
    plan = _plan(entrymod.q_stratified_sample(spark, SF_DIR))
    assert "Exchange" not in plan


def test_watermark_dedup_single_key_shuffle(spark):
    """Greedy anchor thinning is ONE shuffle on the key + a
    partition-local sort into a partition-level Pandas kernel — not
    per-group applyInPandas (measured ~4 ms/group Arrow slicing), and
    no second exchange."""
    plan = _plan(entrymod.q_watermark_dedup(spark, SF_DIR))
    assert plan.count("Exchange") == 1, plan
    assert "MapInPandas" in plan, plan
    assert re.search(r"Sort \[user_id", plan), plan


def test_bloom_probe_is_broadcast_map_side(spark):
    """The Bloom probe must resolve as k BROADCAST hash joins of the
    bounded word table — the probed gram stream itself never shuffles
    (the only exchanges are the post-flag distinct + final id count,
    carrying the flagged sliver)."""
    plan = _plan(entrymod.q_bloom_decontaminate(spark, SF_DIR))
    # arrow default: the probe is a vectorized-Python projection — the
    # gram stream never joins or shuffles; the only exchanges carry the
    # flagged (id, gram) sliver
    assert "Join" not in plan, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan
    # the SQL-mirroring join spelling stays broadcast-only
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    test = docs.where(F.col("doc_id") % 97 == 0)
    cplan = _plan(ref.bloom_decontaminate(docs, test, n=5))
    assert cplan.count("BroadcastHashJoin") >= 4, cplan
    assert "SortMergeJoin" not in cplan, cplan
    assert "CartesianProduct" not in cplan, cplan


def test_semantic_dedup_shuffles_cluster_key_only(spark):
    """SemDeDup's quadratic search must be confined within clusters: no
    cartesian/nested-loop join anywhere — the pair join keys on the
    cluster column."""
    df = entrymod.q_semantic_dedup(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    # arrow default: ONE cluster-keyed exchange feeding the partition-
    # level kernel (the quadratic search never leaves a cluster)
    assert re.search(r"hashpartitioning\(cluster#\d+", plan), plan
    assert "MapInPandas" in plan, plan
    # the SQL-mirroring catalyst spelling confines the pair search the
    # same way: an EQUI-join keyed on the cluster column
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cdf = ref.semantic_dedup(emb, n_clusters=16, threshold=0.45)
    fmt = cdf._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert re.search(r"Left keys \[1\]: \[cluster#\d+\]", fmt), fmt
    assert "CartesianProduct" not in fmt, fmt


def test_warc_parse_is_map_only(spark):
    """Writer expression + parser kernel: the record walk is a pure
    mapInPandas stage — the only exchange is the blob-grouping
    aggregate upstream of the writer."""
    plan = _plan(entrymod.q_warc_extract(spark, SF_DIR))
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Exchange") <= 2, plan
