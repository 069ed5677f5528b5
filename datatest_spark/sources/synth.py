"""Deterministic synthetic tokenized-sequence tables (FIXTURES.md §1–§4).

Everything is generated with JVM-side Spark expressions seeded through
``xxhash64`` — no Python row loops, no RNG state — so the same (seed, n)
always yields byte-identical tables at any parallelism and the generator
itself scales to 10^8+ rows (SURVEY.md §7.1 step 1).

Tables:
  * ``tokenized_sequences(doc_id, tokens, n_tok, source)`` — the binding
    input schema (BASELINE.json:15) with configurable injected defects:
    duplicate doc_ids, n_tok != size(tokens), out-of-set sources, nulls,
    and a 100x skewed ``web`` source (exercises the stats pass's
    map-side partial aggregation under key skew, SURVEY.md C2).
  * ``ref_tokens(doc_id, tokens)`` — reference copy with configurable
    corruption for the token-array-equality check (SURVEY.md J5/U3).
  * ``allowed_sources(source)`` — the legal source set (SURVEY.md J3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (source, relative weight, min n_tok, max n_tok) — `web` is ~100x the
# rarest source so per-source aggregation skew is real (FIXTURES.md §1).
SOURCE_SPECS = [
    ("web", 100, 64, 512),
    ("books", 8, 256, 2048),
    ("code", 12, 128, 1024),
    ("wiki", 4, 128, 768),
    ("forums", 1, 32, 256),
]
ALLOWED_SOURCES = [s for s, _, _, _ in SOURCE_SPECS]
VOCAB_SIZE = 50257


def _h(seed, tag, *cols):
    """Deterministic 64-bit stream: xxhash64(tag, seed, cols...) >= 0."""
    return F.abs(F.xxhash64(F.lit(tag), F.lit(seed), *cols))


def tokenized_sequences(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    dup_rate: float = 0.001,
    len_mismatch_rate: float = 0.0005,
    bad_source_rate: float = 0.001,
    null_rate: float = 0.0005,
    num_partitions: int | None = None,
) -> DataFrame:
    """Generate the primary input table with injected defects."""
    df = spark.range(0, n_rows, numPartitions=num_partitions).withColumnRenamed(
        "id", "_i"
    )

    total_w = sum(w for _, w, _, _ in SOURCE_SPECS)
    bucket = _h(seed, "src", F.col("_i")) % total_w
    src_expr = None
    acc = 0
    for name, w, _, _ in SOURCE_SPECS:
        cond = bucket < acc + w
        src_expr = F.when(cond, name) if src_expr is None else src_expr.when(cond, name)
        acc += w
    source = src_expr.otherwise(SOURCE_SPECS[-1][0])

    lo_expr, hi_expr = None, None
    for name, _, lo, hi in SOURCE_SPECS:
        lo_expr = (
            F.when(source == name, lo) if lo_expr is None else lo_expr.when(source == name, lo)
        )
        hi_expr = (
            F.when(source == name, hi) if hi_expr is None else hi_expr.when(source == name, hi)
        )
    n_tok = (lo_expr + (_h(seed, "len", F.col("_i")) % (hi_expr - lo_expr))).cast("int")

    df = df.withColumn("source", source).withColumn("n_tok", n_tok)

    # tokens[i] = xxhash64(seed, doc index, position) % vocab — position-wise
    # deterministic so a "reference copy" can reproduce it exactly.
    df = df.withColumn(
        "tokens",
        F.transform(
            F.sequence(F.lit(1), F.col("n_tok")),
            lambda pos: (_h(seed, "tok", F.col("_i"), pos) % VOCAB_SIZE).cast("int"),
        ),
    )

    # doc_id with injected duplicates: a dup row reuses the previous index's id.
    denom = 1_000_000
    r_dup = _h(seed, "dup", F.col("_i")) % denom
    dup_thresh = int(dup_rate * denom)
    df = df.withColumn(
        "doc_id",
        F.when(
            (r_dup < dup_thresh) & (F.col("_i") > 0),
            F.format_string("d%012d", F.col("_i") - 1),
        ).otherwise(F.format_string("d%012d", F.col("_i"))),
    )

    # n_tok != size(tokens) defects.
    r_len = _h(seed, "lenmis", F.col("_i")) % denom
    df = df.withColumn(
        "n_tok",
        F.when(r_len < int(len_mismatch_rate * denom), F.col("n_tok") + 1).otherwise(
            F.col("n_tok")
        ),
    )

    # out-of-set sources.
    r_src = _h(seed, "badsrc", F.col("_i")) % denom
    df = df.withColumn(
        "source",
        F.when(r_src < int(bad_source_rate * denom), F.lit("spam")).otherwise(
            F.col("source")
        ),
    )

    # nulls on doc_id / tokens / n_tok.
    if null_rate > 0:
        nt = int(null_rate * denom)
        for col, tag in [("doc_id", "n0"), ("tokens", "n1"), ("n_tok", "n2")]:
            r = _h(seed, tag, F.col("_i")) % denom
            df = df.withColumn(col, F.when(r < nt, F.lit(None)).otherwise(F.col(col)))

    return df.select(
        F.col("doc_id"),
        F.col("tokens"),
        F.col("n_tok").cast("int").alias("n_tok"),
        F.col("source"),
    )


def ref_tokens(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    corrupt_rate: float = 0.001,
    missing_rate: float = 0.0005,
) -> DataFrame:
    """Reference token copy: same deterministic tokens, with corruption.

    Corruption perturbs element 0 by +1 (mod vocab); missing rows are
    dropped. doc_id here is the *clean* id (no duplicate injection) so the
    equality join is 1:1 against non-defective input rows.
    """
    df = spark.range(0, n_rows).withColumnRenamed("id", "_i")

    total_w = sum(w for _, w, _, _ in SOURCE_SPECS)
    bucket = _h(seed, "src", F.col("_i")) % total_w
    # recompute n_tok identically to tokenized_sequences (pre-defect)
    src_expr = None
    acc = 0
    for name, w, _, _ in SOURCE_SPECS:
        cond = bucket < acc + w
        src_expr = F.when(cond, name) if src_expr is None else src_expr.when(cond, name)
        acc += w
    source = src_expr.otherwise(SOURCE_SPECS[-1][0])
    lo_expr, hi_expr = None, None
    for name, _, lo, hi in SOURCE_SPECS:
        lo_expr = (
            F.when(source == name, lo) if lo_expr is None else lo_expr.when(source == name, lo)
        )
        hi_expr = (
            F.when(source == name, hi) if hi_expr is None else hi_expr.when(source == name, hi)
        )
    n_tok = (lo_expr + (_h(seed, "len", F.col("_i")) % (hi_expr - lo_expr))).cast("int")

    df = df.withColumn("n_tok", n_tok).withColumn(
        "tokens",
        F.transform(
            F.sequence(F.lit(1), F.col("n_tok")),
            lambda pos: (_h(seed, "tok", F.col("_i"), pos) % VOCAB_SIZE).cast("int"),
        ),
    )

    denom = 1_000_000
    r_cor = _h(seed, "refcor", F.col("_i")) % denom
    df = df.withColumn(
        "tokens",
        F.when(
            r_cor < int(corrupt_rate * denom),
            F.concat(
                F.array((F.element_at("tokens", 1) + 1) % VOCAB_SIZE),
                F.slice("tokens", 2, F.greatest(F.col("n_tok") - 1, F.lit(0))),
            ),
        ).otherwise(F.col("tokens")),
    )

    r_mis = _h(seed, "refmis", F.col("_i")) % denom
    df = df.filter(r_mis >= int(missing_rate * denom))

    return df.select(
        F.format_string("d%012d", F.col("_i")).alias("doc_id"),
        F.col("tokens"),
    )


def allowed_sources(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([(s,) for s in ALLOWED_SOURCES], "source string")
