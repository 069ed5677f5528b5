"""Streaming wrapper: file-source micro-batches drive the suite via
foreachBatch (memory-synchronous smoke per pyspark guide)."""

import pytest
from pyspark.sql import functions as F

from datatest_spark.plans.suite import north_star_suite
from datatest_spark.schema import INPUT_SCHEMA
from datatest_spark.sources.synth import ALLOWED_SOURCES, tokenized_sequences
from datatest_spark.streaming.incremental import IncrementalValidator


@pytest.mark.spark
def test_incremental_validation(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    tokenized_sequences(spark, 500, seed=5, bad_source_rate=0.01).write.mode(
        "overwrite"
    ).parquet(src)

    stream = spark.readStream.schema(INPUT_SCHEMA).parquet(src)
    suite = north_star_suite(ALLOWED_SOURCES)
    iv = IncrementalValidator(suite, out)

    q = (
        stream.writeStream.foreachBatch(iv)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    assert iv.batches_seen and sum(n for _, n in iv.batches_seen) == 500
    verdicts = spark.read.parquet(out + "/verdicts")
    assert verdicts.filter("check_id = 'referential' AND status = 'fail'").count() > 0
    violations = spark.read.parquet(out + "/violations")
    assert violations.filter("kind = 'extra'").count() > 0


def test_map_only_quality_gates_stream_equals_batch(spark, tmp_path):
    """The map-only quality gates (token entropy, PII scan, LM scoring
    against a PRE-BUILT broadcast model) are stateless projections, so
    they run unchanged on a structured stream: availableNow over a file
    source must produce exactly the batch result. Pins the
    batch/streaming unification the map-only design buys."""
    from datatest_spark.operators.text import (
        pii_scan, token_entropy, unigram_logloss, unigram_model,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = spark.createDataFrame(
        [
            (1, "email me at a@b.io now", [1, 1, 2]),
            (2, "clean text here", [2, 3, 3, 3]),
            (3, "call 555-867-5309 ok", [5]),
        ],
        "doc_id long, text string, tokens array<int>",
    )
    df.write.mode("overwrite").parquet(src)
    model = unigram_model(df).persist()
    model.count()

    def gates(frame):
        # the whole gate is ONE chained projection (passthrough
        # columns), so it is a stateless map over the stream — no
        # stream-stream self-joins, no state store
        s1 = pii_scan(frame, passthrough=("tokens",))
        s2 = unigram_logloss(
            s1, model=model, passthrough=("tokens", "has_pii")
        ).select("doc_id", "tokens", "has_pii", "bits_per_token")
        return token_entropy(
            s2, passthrough=("has_pii", "bits_per_token")
        )

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        gates(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, gates(df).collect()))
    assert got == want and len(got) == 3


def test_hash_split_stream_equals_batch(spark, tmp_path):
    """hash_split is a pure function of (id, seed) — a stateless map —
    so the split assignment on a structured stream must equal the batch
    assignment row-for-row (the property that makes the split safe to
    apply in an ingestion pipeline: later batches can never reshuffle
    earlier rows)."""
    from datatest_spark.operators.packing import hash_split

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = spark.range(300).select(F.col("id").alias("doc_id"))
    df.write.mode("overwrite").parquet(src)

    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        hash_split(stream, weights)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, hash_split(df, weights).collect()))
    assert got == want and len(got) == 300


def test_bloom_decontaminate_stream_equals_batch(spark, tmp_path):
    """The Bloom survivor gate is a pure filter against a PRE-BUILT
    broadcast bitmap — stateless, so decontaminating an ingestion
    stream (availableNow over a file source) must keep exactly the rows
    the batch filter keeps. This is the streaming story the map-only
    probe buys: benchmark hygiene applied at ingest time with no state
    store and no join."""
    from datatest_spark.operators.decontam import (
        bloom_bitmap, bloom_decontaminate,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # stolen
            (2, "completely unrelated clean document text here"),
            (3, "another clean one with different words entirely"),
        ],
        "doc_id long, text string",
    )
    df.write.mode("overwrite").parquet(src)
    bm = bloom_bitmap(bench, k=4, m_bits=1 << 14, n_hashes=4)

    def gate(frame):
        return bloom_decontaminate(
            frame, None, k=4, m_bits=1 << 14, n_hashes=4, bitmap=bm
        )

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        gate(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, gate(df).collect()))
    assert got == want
    assert {r[0] for r in got} == {2, 3}  # the stolen doc is gone


def test_surprisal_ops_stream_equals_batch(spark, tmp_path):
    """The session-9 surprisal scorers (shape profile + span locator)
    are stateless projections over the broadcast LM carrier — profile
    is a pure map, the span locator a map + flatMap (explode) — so
    availableNow over a file source must equal the batch result
    exactly, spans included."""
    from datatest_spark.operators.text import (
        surprisal_spans, unigram_model, unigram_surprisal_profile,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    out2 = str(tmp_path / "out2")
    df = spark.createDataFrame(
        [
            (1, [1, 1, 7, 8, 9, 1, 1]),
            (2, [1, 1, 1, 1]),
            (3, [7, 9]),
        ],
        "doc_id long, tokens array<int>",
    )
    df.write.mode("overwrite").parquet(src)
    model = unigram_model(df).persist()
    model.count()

    stream = spark.readStream.schema(df.schema).parquet(src)
    for path, op, kw in (
        (out, unigram_surprisal_profile, {}),
        (out2, surprisal_spans, {"min_bits": 2.0, "min_len": 2}),
    ):
        q = (
            op(stream, model=model, **kw)
            .writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", path + "_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = sorted(map(tuple, spark.read.parquet(path).collect()))
        want = sorted(map(tuple, op(df, model=model, **kw).collect()))
        assert got == want and len(got) > 0, op.__name__

