"""Traced run: per-layer breakdown of one job wall, from outside the program.

Three sources, none of which edits the program:

1. ``Tracer.install`` wraps the public names the job modules call
   (lazy DataFrame functions and ``SnapshotTable`` actions).  Each wrapper
   records a span (name, start, end, parent) and sets a Spark job group,
   so every Spark job is attributed to the innermost span that launched
   it.  Spans stay in memory; ``layer_metrics`` folds them at the end.
2. ``StoreReader`` reads Spark's own status stores through py4j: per-job
   group and duration, per-stage task metrics (CPU, GC, spill), and the
   per-operator SQL metrics (Python worker init/run time and bytes per
   MapInPandas node, Exchange bytes, task summaries).
3. ``kernel_micro`` times the kernels' public functions in this process
   over a sample of the workload's payloads (µs per page and the OCR
   retry / HTML fast-path ratios).
"""

from __future__ import annotations

import functools
import re
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

# span names of the wrapped lazy functions; appends/reads are named
# "snapshot.append:<table>" / "snapshot.read:<table>"
LAZY = {
    # (module, attribute): span name
    ("jobs.extract_job", "extract_pages"): "pipeline.extract_pages",
    ("jobs.corpus_job", "extract_pages"): "pipeline.extract_pages",
    ("jobs.extract_job", "assemble_documents"): "assemble.assemble_documents",
    ("jobs.extract_job", "emit_spans"): "spans.emit_spans",
    ("jobs.extract_job", "partition_metrics"): "assemble.partition_metrics",
    ("image_pdf_ocr_suite_spark.pipeline", "decode_pages"): "decode.decode_pages",
    ("image_pdf_ocr_suite_spark.pipeline", "ocr_pages"): "ocr.ocr_pages",
    ("image_pdf_ocr_suite_spark.pipeline", "assemble_documents"):
        "assemble.assemble_documents",
    ("image_pdf_ocr_suite_spark.pipeline", "emit_spans"): "spans.emit_spans",
    ("image_pdf_ocr_suite_spark.pipeline", "partition_metrics"):
        "assemble.partition_metrics",
    ("jobs.pipeline_job", "ingest_pages"): "ingest.ingest_pages",
    ("jobs.pipeline_job", "clean_corpus"): "clean.clean_corpus",
    ("jobs.pipeline_job", "pack_windows"): "shards.pack_windows",
    ("image_pdf_ocr_suite_spark.analytics.mixing", "mixture_report"):
        "mix.mixture_report",
}

# which layer executes the plan committed to each snapshot table
TABLE_LAYER = {
    "_staged_pages": "pipeline", "text": "assemble", "metrics": "assemble",
    "spans": "spans", "quarantine": "decode",
    "pages": "ingest", "ingest_rejects": "ingest",
    "clean": "clean", "clean_rejects": "clean",
    "mixture_report": "mix", "shards": "shards", "manifest": "shards",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    children: list = field(default_factory=list)


class Tracer:
    """In-memory span recorder; one per traced job."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list = []

    def span(self, name: str, fn, *args, **kwargs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent, group=f"pb{sid}")
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(sid)
        self._stack.append(sid)
        self.sc.setJobGroup(s.group, name, False)
        try:
            return fn(*args, **kwargs)
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                p = self.spans[self._stack[-1]]
                self.sc.setJobGroup(p.group, p.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        import importlib

        from image_pdf_ocr_suite_spark.tableio.snapshot import SnapshotTable

        for (mod, attr), name in LAZY.items():
            m = importlib.import_module(mod)
            self._patch(m, attr, lambda f, n=name: functools.wraps(f)(
                lambda *a, **k: self.span(n, f, *a, **k)))

        def table(tbl) -> str:
            parts = tbl.root.rstrip("/").split("/")
            return "_staged_pages" if "_staged_pages" in parts else parts[-1]

        self._patch(SnapshotTable, "append", lambda f: functools.wraps(f)(
            lambda tbl, *a, **k: self.span(
                f"snapshot.append:{table(tbl)}", f, tbl, *a, **k)))
        self._patch(SnapshotTable, "read", lambda f: functools.wraps(f)(
            lambda tbl, *a, **k: self.span(
                f"snapshot.read:{table(tbl)}", f, tbl, *a, **k)))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        return (s.end - s.start) - sum(
            self.spans[c].end - self.spans[c].start for c in s.children)


# ---- Spark status stores ---------------------------------------------------
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9}
_VAL = re.compile(r"^\s*([0-9.,]+)\s*([A-Za-z]*)")
_STAGE = re.compile(r"\(stage (\d+)\.(\d+):")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: '6.7 s' or, for task summaries,
    'total (min, med, max ...)\n6.7 s (570 ms, ...)' -> 6.7."""
    m = _VAL.match(text.strip().split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StoreReader:
    """py4j view of the app status store and the SQL status store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def jobs(self) -> dict[int, dict]:
        out = {}
        lst = self.app.jobsList(None)
        for k in range(lst.size()):
            j = lst.apply(k)
            sub, comp = j.submissionTime(), j.completionTime()
            dur = ((comp.get().getTime() - sub.get().getTime()) / 1000.0
                   if sub.isDefined() and comp.isDefined() else 0.0)
            grp = j.jobGroup()
            out[j.jobId()] = {
                "group": grp.get() if grp.isDefined() else "",
                "wall": dur,
                "stages": [int(s) for s in _scala_ints(j.stageIds())],
            }
        return out

    def stages(self) -> dict[int, dict]:
        out = {}
        # py4j fills no Scala default arguments: pass every one
        gw = self.sc._gateway
        lst = self.app.stageList(None, False, False,
                                 gw.new_array(gw.jvm.double, 0),
                                 gw.jvm.java.util.Collections.emptyList())
        for k in range(lst.size()):
            s = lst.apply(k)
            out[s.stageId()] = {
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        return out

    def task_times(self, stage_id: int, attempt: int) -> list[float]:
        lst = self.app.taskList(stage_id, attempt, 100000)
        return [lst.apply(k).duration().get() / 1e3
                for k in range(lst.size()) if lst.apply(k).duration().isDefined()]

    def executions(self) -> list[dict]:
        """Per SQL execution: its job ids and the metric values of every
        plan node (name, desc, {metric name: formatted value})."""
        out = []
        it = self.sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            vals = self.sql.executionMetrics(eid)
            nodes = []
            all_nodes = self.sql.planGraph(eid).allNodes()
            for k in range(all_nodes.size()):
                n = all_nodes.apply(k)
                ms = {}
                mlist = n.metrics()
                for q in range(mlist.size()):
                    m = mlist.apply(q)
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = v.get()
                nodes.append({"name": n.name(), "desc": n.desc(), "metrics": ms})
            out.append({"jobs": [int(j) for j in _scala_ints(
                e.jobs().keySet())], "nodes": nodes})
        return out


def _scala_ints(coll) -> list:
    it = coll.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _kernel_of(desc: str) -> str:
    """Classify a MapInPandas node by the kernel it runs."""
    if "decode_kernel" in desc:
        return "decode"
    if "_page_text_kernel" in desc:
        return "ingest_html"
    if "w_block" in desc or "page_text" in desc:
        return "extract"
    return "other"


# ---- folding everything into the per-layer metrics -------------------------
def layer_metrics(tracer: Tracer, store: StoreReader, job_sid: int,
                  shares: dict) -> dict[str, float]:
    """Per-layer numbers of the traced job rooted at span ``job_sid``.

    ``shares``: the kernel micro-run's split of the unified extract
    kernel's Python time between OCR and HTML pages."""
    spans = tracer.spans
    jobs = store.jobs()
    stages = store.stages()
    group_sid = {s.group: i for i, s in enumerate(spans)}
    sid_jobs: dict[int, list[int]] = defaultdict(list)
    for jid, j in jobs.items():
        if j["group"] in group_sid:
            sid_jobs[group_sid[j["group"]]].append(jid)
    job_sid_of = {jid: sid for sid, js in sid_jobs.items() for jid in js}

    def owner(sid: int) -> str:
        # the layer a span's own time belongs to
        name = spans[sid].name
        if name.startswith("snapshot."):
            return TABLE_LAYER.get(name.split(":", 1)[1], "snapshot")
        return name.split(".", 1)[0]

    m: dict[str, float] = defaultdict(float)
    wall = spans[job_sid].end - spans[job_sid].start
    covered = 0.0
    lazy_names = set(LAZY.values())
    for sid in range(job_sid + 1, len(spans)):
        s = spans[sid]
        self_t = tracer.self_time(sid)
        covered += self_t
        jobs_t = sum(jobs[j]["wall"] for j in sid_jobs.get(sid, []))
        if s.name in lazy_names:
            m["pipeline.plan_build_s"] += self_t
            m["pipeline.plan_build_jobs"] += len(sid_jobs.get(sid, []))
            m[f"{owner(sid)}.self_s"] += self_t
        elif s.name.startswith("snapshot.append:"):
            # the Spark jobs executed the owning layer's plan; the rest is
            # the table layer's own time outside Spark jobs (planning, commit)
            m[f"{owner(sid)}.self_s"] += min(jobs_t, self_t)
            m["snapshot.append_s"] += max(0.0, self_t - jobs_t)
            m["snapshot.commits"] += 1
        elif s.name.startswith("snapshot.read:"):
            m["snapshot.read_s"] += self_t
    m["trace.coverage"] = covered / wall if wall > 0 else 0.0

    # stage-level JVM metrics over every Spark job of the traced job
    traced_jobs = [jid for jid in jobs if jid in job_sid_of or
                   jobs[jid]["group"] == spans[job_sid].group]
    for jid in traced_jobs:
        for st in jobs[jid]["stages"]:
            if st in stages:
                m["jvm.cpu_s"] += stages[st]["cpu_s"]
                m["jvm.gc_s"] += stages[st]["gc_s"]
                m["jvm.spill_bytes"] += stages[st]["spill"]

    # operator-level metrics, attributed through the execution's jobs
    kernel_stage = None
    for ex in store.executions():
        ex_jobs = [j for j in ex["jobs"] if j in traced_jobs]
        if not ex_jobs:
            continue
        sid = job_sid_of.get(ex_jobs[0], job_sid)
        layer = owner(sid) if sid != job_sid else "job"
        for n in ex["nodes"]:
            ms = n["metrics"]
            if "time to run Python workers" in ms:
                run = parse_metric(ms["time to run Python workers"])
                init = parse_metric(ms.get("time to initialize Python workers", "0"))
                to = parse_metric(ms.get("data sent to Python workers", "0"))
                frm = parse_metric(ms.get("data returned from Python workers", "0"))
                m["python.init_s"] += init
                m["python.bytes_to"] += to
                m["python.bytes_from"] += frm
                k = _kernel_of(n["desc"])
                if k == "decode":
                    m["decode.python_run_s"] += run
                    m["decode.bytes_to_python"] += to
                elif k == "extract":
                    m["ocr.python_run_s"] += run * shares["ocr"]
                    m["html.python_run_s"] += run * shares["html"]
                    m["ocr.bytes_from_python"] += frm
                    st = _STAGE.search(ms["time to run Python workers"])
                    if st and kernel_stage is None:
                        kernel_stage = (int(st.group(1)), int(st.group(2)))
                elif k == "ingest_html":
                    m["html.python_run_s"] += run
            if n["name"] == "Exchange" and "shuffle bytes written" in ms:
                b = parse_metric(ms["shuffle bytes written"])
                if "xxhash64(url" in n["desc"] and "page" in n["desc"]:
                    m["exchange.shuffle_write_bytes"] += b
                    m["exchange.tasks"] = max(m["exchange.tasks"], parse_metric(
                        ms.get("number of partitions", "0")))
                elif layer in ("assemble", "clean"):
                    m[f"{layer}.shuffle_bytes"] += b
    if kernel_stage is not None:
        times = store.task_times(*kernel_stage)
        if times and statistics.median(times) > 0:
            m["exchange.task_skew"] = max(times) / statistics.median(times)
    return dict(m)


# ---- in-process kernel micro-run -------------------------------------------
def kernel_micro(raw_payloads: list[bytes], urls: list[str]
                 ) -> tuple[dict[str, float], dict[str, float]]:
    """Time the kernels' public functions in this process over a fixed
    sample: decode_kernel, the extract kernel (by page kind),
    extract_main_text and decode_bytes.  Returns the metrics and the
    OCR/HTML split of the extract kernel's cost."""
    import pandas as pd

    from image_pdf_ocr_suite_spark import backends, payload as spdf
    from image_pdf_ocr_suite_spark.config import ExtractConfig
    from image_pdf_ocr_suite_spark.kernels import html as html_mod
    from image_pdf_ocr_suite_spark.kernels.charset import decode_bytes, detect_charset
    from image_pdf_ocr_suite_spark.kernels.decode import decode_kernel
    from image_pdf_ocr_suite_spark.kernels.ocr import make_extract_kernel
    from image_pdf_ocr_suite_spark.refmodel import compute_average_confidence

    cfg = ExtractConfig()
    m: dict[str, float] = {}
    batch = pd.DataFrame({"url": urls, "html": raw_payloads})
    decoded = pd.concat(list(decode_kernel(iter([batch]))), ignore_index=True)
    m["decode.pages_per_doc"] = len(decoded) / max(1, len(urls))

    kernel = make_extract_kernel(cfg)
    spdf_pages = decoded[(decoded["kind"] == "spdf") & (decoded["page"] > 0)]
    html_rows = decoded[decoded["kind"] == "html"]
    us_per_page = {}
    if len(spdf_pages):
        t = time.perf_counter()
        out = pd.concat(list(kernel(iter([spdf_pages.reset_index(drop=True)]))))
        us_per_page["ocr"] = (time.perf_counter() - t) / len(spdf_pages) * 1e6
        retried = 0
        for pb in spdf_pages["page_payload"]:
            page = spdf.decode(bytes(pb)).pages[0]
            frame = backends.ocr_boxes(backends.rasterize(page), cfg.lang)
            retried += compute_average_confidence(frame) < cfg.adaptive_conf_threshold
        won = int(out["used_preprocessing"].sum())
        m["ocr.us_per_page"] = us_per_page["ocr"]
        m["ocr.retry_share"] = retried / len(spdf_pages)
        m["ocr.retry_win_ratio"] = won / retried if retried else 0.0
    if len(html_rows):
        t = time.perf_counter()
        list(kernel(iter([html_rows.reset_index(drop=True)])))
        us_per_page["html"] = (time.perf_counter() - t) / len(html_rows) * 1e6

    htmls = [bytes(r) for r in html_rows["page_payload"]]
    if htmls:
        t = time.perf_counter()
        texts = [decode_bytes(r)[0] for r in htmls]
        m["charset.us_per_page"] = (time.perf_counter() - t) / len(htmls) * 1e6
        m["charset.non_utf8_share"] = sum(
            detect_charset(r)[0] != "utf-8" for r in htmls) / len(htmls)
        t = time.perf_counter()
        for s in texts:
            html_mod.extract_main_text(s)
        m["html.us_per_page"] = (time.perf_counter() - t) / len(htmls) * 1e6
        fast = 0
        for s in texts:
            try:
                fast += bool(html_mod._scan_fast(s, html_mod._DensityParser()))
            except Exception:  # the kernel treats a raise as a fallback too
                pass
        m["html.fast_path_share"] = fast / len(htmls)
    # the unified extract kernel's Python time, split by the cost each
    # kind of page has in the sample
    cost = {"ocr": len(spdf_pages) * us_per_page.get("ocr", 0.0),
            "html": len(html_rows) * us_per_page.get("html", 0.0)}
    total = sum(cost.values())
    shares = {k: c / total if total else 0.0 for k, c in cost.items()}
    return dict(m), shares
