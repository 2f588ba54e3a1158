"""Pure-Catalyst reference spellings of engine operators whose engine
form is an Arrow kernel.

Each function restates the DuckDB oracle's SQL in DataFrame
expressions: md5 inside ``transform``/``aggregate`` lambdas, broadcast
joins, an equi-join pair search.  Catalyst evaluates those higher-order
functions interpreted, and at corpus scale the per-element md5
allocations make the stage GC-bound in a shared JVM, so the engine
ships only the Arrow spelling.  These stay here as reference models:
the equivalence tests compare the engine against them row for row, and
the plan tests pin their shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from image_pdf_ocr_suite_spark.analytics import corpusprep, similarity
from image_pdf_ocr_suite_spark.analytics import sketches
from image_pdf_ocr_suite_spark.analytics.dedup import shingles_from_tokens
from image_pdf_ocr_suite_spark.analytics.text import token_array_expr
from image_pdf_ocr_suite_spark.unicode_ws import RUNS_PATTERN


def _gram_md5s(df: DataFrame, n: int, text_col: str,
               id_col: str) -> DataFrame:
    """``(id, __g)``: the md5-hex array of every word ``n``-gram, in
    window order, over the single-space token contract."""
    base = (df.select(F.col(id_col),
                      token_array_expr(text_col).alias("__toks"))
              .select(F.col(id_col), F.col("__toks"),
                      F.size("__toks").alias("__n")))
    grams = F.when(
        F.col("__n") >= n,
        F.transform(
            F.sequence(F.lit(1), F.col("__n") - (n - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i, n)))),
    ).otherwise(F.array().cast("array<string>"))
    return base.select(F.col(id_col), grams.alias("__g"))


def ngram_hashes(df: DataFrame, n: int, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """``corpusprep._ngram_hashes``: ``(id, __h)`` per word n-gram."""
    return _gram_md5s(df, n, text_col, id_col).select(
        F.col(id_col), F.explode("__g").alias("__h"))


def positional_gram_hashes(df: DataFrame, n: int, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """``corpusprep._positional_gram_hashes``: ``(id, pos, __h)`` with
    the 0-based window start kept."""
    return _gram_md5s(df, n, text_col, id_col).select(
        F.col(id_col), F.posexplode("__g").alias("pos", "__h"))


def decontaminate_ngrams(corpus: DataFrame, test: DataFrame, n: int = 13,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """``corpusprep.decontaminate_ngrams``: both sides hashed in
    Catalyst, broadcast md5 join, distinct shared grams per document."""
    tg = ngram_hashes(test, n, text_col, id_col).select("__h").distinct()
    return (ngram_hashes(corpus, n, text_col, id_col)
            .join(F.broadcast(tg), "__h")
            .select(F.col(id_col), F.col("__h")).distinct()
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared")))


def minhash_signature(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n_hashes: int = 4,
                      shingle_k: int = 3) -> DataFrame:
    """``dedup.minhash_signature``: one ``aggregate`` traversal of the
    shingle array computing every band minimum at once."""
    # the token array is a projection attribute so the shingle lambda
    # reads it instead of re-splitting the text per element
    toks = df.select(F.col(id_col),
                     F.split(F.col(text_col), " ").alias("__toks"))
    sh = shingles_from_tokens(F.col("__toks"), shingle_k)
    # sentinel "g" sorts after every md5 hex digest; it survives only for
    # empty shingle sets -> NULL minhash
    sentinel = "g"
    init = F.array(*[F.lit(sentinel) for _ in range(n_hashes)])

    def step(acc, s):
        return F.array(*[
            F.least(acc[i], F.md5(F.concat(s, F.lit(f"#{i}"))))
            for i in range(n_hashes)])

    sig = toks.select(F.col(id_col), F.aggregate(sh, init, step).alias("sig"))
    cols = [F.when(F.col("sig")[i] != sentinel, F.col("sig")[i])
            .alias(f"mh{i}") for i in range(n_hashes)]
    stack = ", ".join(f"{i}, mh{i}" for i in range(n_hashes))
    return (sig.select(F.col(id_col), *cols)
            .selectExpr(id_col,
                        f"stack({n_hashes}, {stack}) as (band, minhash)")
            .where(F.col("minhash").isNotNull()))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 8,
                        w: int = 4) -> DataFrame:
    """``text.winnow_fingerprints``: md5 over ``substring`` k-grams,
    window minima via ``array_min(slice(...))``, explode + distinct."""
    norm = F.lower(F.regexp_replace(F.col(text_col), RUNS_PATTERN, " "))
    base = df.select(F.col(id_col), norm.alias("__t"))
    n_grams = F.length(F.col("__t")) - (k - 1)
    grams = F.when(
        n_grams >= 1,
        F.transform(F.sequence(F.lit(1), n_grams),
                    lambda i: F.md5(F.col("__t").substr(i, F.lit(k))))
    ).otherwise(F.array().cast("array<string>"))
    # the hash array is an attribute so the window-min lambda reads it
    # instead of re-hashing per window position
    hashed = base.select(F.col(id_col), grams.alias("__h"))
    n_windows = F.size(F.col("__h")) - (w - 1)
    wins = F.when(
        n_windows >= 1,
        F.transform(F.sequence(F.lit(1), n_windows),
                    lambda j: F.array_min(F.slice(F.col("__h"), j, w)))
    ).otherwise(F.col("__h"))  # fewer than w k-grams: keep them all
    return (hashed.select(F.col(id_col), F.explode(wins).alias("fp"))
            .distinct())


def hll_registers(df: DataFrame, col: str, p: int = 10,
                  group_cols=()) -> DataFrame:
    """``hll.hll_registers``: ``hash48_expr`` bucket + bin-length rho,
    MAX per (group, bucket)."""
    gcols = list(group_cols)
    rem_bits = sketches.HASH_BITS - p
    max_rho = rem_bits + 1
    h = sketches.hash48_expr(col)
    bucket = F.shiftright(h, rem_bits).cast("int")
    rem = h % F.lit(1 << rem_bits).cast("bigint")
    rho = F.when(rem == 0, F.lit(max_rho)).otherwise(
        F.lit(max_rho) - F.length(F.bin(rem))).cast("int")
    return (df.where(F.col(col).isNotNull())
            .select(*gcols, bucket.alias("bucket"), rho.alias("rho"))
            .groupBy(*gcols, "bucket")
            .agg(F.max("rho").alias("r")))


def bloom_maybe_contains(df: DataFrame, bloom: DataFrame, col: str,
                         m_bits: int = 1 << 18, k: int = 4,
                         hashed: bool = False,
                         out_col: str = "maybe") -> DataFrame:
    """``sketches.bloom_maybe_contains``: ``k`` chained broadcast left
    joins of the word table, one per double-hashed position."""
    hx = F.col(col) if hashed else F.md5(F.col(col))
    h1, h2 = sketches._bloom_halves(hx)
    out = df
    checks = []
    for i in range(k):
        pos = (h1 + F.lit(i) * h2) % F.lit(m_bits)
        w, b = f"__w{i}", f"__b{i}"
        side = F.broadcast(bloom.select(F.col("word_idx").alias(w),
                                        F.col("bits").alias(b)))
        out = out.join(side, (pos / 32).cast("int") == F.col(w), "left")
        mask = F.call_function("shiftleft", F.lit(1).cast("long"),
                               (pos % 32).cast("int"))
        checks.append(F.coalesce(F.col(b).bitwiseAND(mask) != 0,
                                 F.lit(False)))
    cond = checks[0]
    for c in checks[1:]:
        cond = cond & c
    drop = [c for i in range(k) for c in (f"__w{i}", f"__b{i}")]
    return out.withColumn(out_col, cond).drop(*drop)


def bloom_decontaminate(corpus: DataFrame, test: DataFrame, n: int = 13,
                        m_bits: int = 1 << 18, k: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """``corpusprep.bloom_decontaminate`` with the corpus grams probing
    the Bloom word table through the join spelling above."""
    tg = corpusprep.test_gram_table(test, n, text_col, id_col)
    bloom = sketches.bloom_build(tg, "__h", m_bits=m_bits, k=k, hashed=True)
    flagged = bloom_maybe_contains(
        corpusprep._ngram_hashes(corpus, n, text_col, id_col), bloom, "__h",
        m_bits=m_bits, k=k, hashed=True).where(F.col("maybe"))
    return (flagged.select(F.col(id_col), F.col("__h")).distinct()
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_maybe")))


def semantic_dedup(df: DataFrame, n_clusters: int = 16,
                   threshold: float = 0.92, vec_col: str = "embedding",
                   id_col: str = "vec_id", seed: int = 42,
                   sample: int = 2048) -> DataFrame:
    """``similarity.semantic_dedup``: Catalyst argmax-dot assignment and
    an equi-join on the cluster column with bit-exact sequential cosine
    sums."""
    centroids = similarity.train_ivf_centroids(df, n_clusters, vec_col,
                                               id_col, sample=sample,
                                               seed=seed)
    base = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        similarity.ivf_list_expr(vec_col, centroids).alias("cluster"))
    a, b = base.alias("a"), base.alias("b")
    dup_ids = (a.join(b, (F.col("a.cluster") == F.col("b.cluster"))
                     & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
               .where(similarity.cosine_expr(F.col("a.__v"), F.col("b.__v"))
                      >= F.lit(threshold))
               .select(F.col(f"b.{id_col}").alias(id_col))
               .distinct()
               .withColumn("__dup", F.lit(True)))
    return (base.join(dup_ids, id_col, "left")
            .select(F.col(id_col), F.col("cluster"),
                    F.col("__dup").isNull().alias("keep")))
