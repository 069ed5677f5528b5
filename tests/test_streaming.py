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


def _write_event_source(spark, path, rows):
    spark.createDataFrame(
        rows, "source string, ts string, n_tok int"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz")).write.mode(
        "overwrite"
    ).parquet(path)


@pytest.mark.spark
def test_windowed_stats_with_watermark(spark, tmp_path):
    from datatest_spark.streaming import windowed

    src = str(tmp_path / "wsrc")
    rows = [
        ("web", "2024-01-01 00:01:00", 10),
        ("web", "2024-01-01 00:04:00", None),   # same 10-min window
        ("web", "2024-01-01 00:12:00", 30),     # next window
        ("books", "2024-01-01 00:02:00", 7),
    ]
    _write_event_source(spark, src, rows)
    stream = spark.readStream.schema(
        "source string, ts timestamp_ntz, n_tok int"
    ).parquet(src)
    agg = windowed.windowed_stats(stream, window="10 minutes",
                                  watermark="5 minutes")
    got = windowed.run_available_now(agg, "wstats", str(tmp_path / "wck"))
    by_key = {
        (r["source"], r["window_start"].minute): (r["n_rows"], r["n_nulls"])
        for r in got
    }
    assert by_key[("web", 0)] == (2, 1)     # window 00:00–00:10
    assert by_key[("web", 10)] == (1, 0)    # window 00:10–00:20
    assert by_key[("books", 0)] == (1, 0)


@pytest.mark.spark
def test_windowed_violation_rate(spark, tmp_path):
    from datatest_spark.streaming import windowed

    src = str(tmp_path / "vsrc")
    rows = [
        ("web", "2024-01-01 00:01:00", 10),
        ("web", "2024-01-01 00:02:00", -5),    # violation: negative n_tok
        ("books", "2024-01-01 00:03:00", 7),
    ]
    _write_event_source(spark, src, rows)
    stream = spark.readStream.schema(
        "source string, ts timestamp_ntz, n_tok int"
    ).parquet(src)
    rate = windowed.windowed_violation_rate(
        stream, F.col("n_tok") < 0, window="10 minutes")
    got = windowed.run_available_now(rate, "vrate", str(tmp_path / "vck"))
    status = {r["source"]: (r["n_violations"], r["status"]) for r in got}
    assert status["web"] == (1, "fail")
    assert status["books"] == (0, "pass")


@pytest.mark.spark
def test_stateful_freshness_applyinpandaswithstate(spark, tmp_path):
    from datatest_spark.streaming import windowed

    src = str(tmp_path / "fsrc")
    # web's latest event is old; books is fresh relative to as_of
    rows = [
        ("web", "2024-01-01 00:00:00", 1),
        ("web", "2024-01-01 00:05:00", 1),
        ("books", "2024-01-10 00:00:00", 1),
    ]
    _write_event_source(spark, src, rows)
    stream = spark.readStream.schema(
        "source string, ts timestamp_ntz, n_tok int"
    ).parquet(src)
    as_of = 1704931200000  # 2024-01-11 00:00:00
    fresh = windowed.stateful_freshness(
        stream, lambda: as_of, max_age_ms=2 * 86400_000)
    got = windowed.run_available_now(fresh, "fresh", str(tmp_path / "fck"))
    latest = {r["source"]: r for r in got}  # update mode: last row per key
    assert latest["web"]["stale"] is True
    assert latest["web"]["n_rows_total"] == 2
    assert latest["web"]["max_ts_ms"] == 1704067500000  # 00:05 from epoch
    assert latest["books"]["stale"] is False


@pytest.mark.spark
def test_stateful_freshness_state_carries_across_triggers(spark, tmp_path):
    """Two micro-batches for the SAME group: the second trigger reads
    existing state (GroupState.get is a PROPERTY in PySpark 4 — calling
    it only crashes once state exists, which a single-batch test never
    exercises)."""
    from pyspark.sql import functions as SF

    from datatest_spark.streaming import windowed

    src = str(tmp_path / "fsrc3")
    _write_event_source(spark, src, [("web", "2024-01-01 00:00:00", 1)])
    stream = (
        spark.readStream.schema("source string, ts timestamp_ntz, n_tok int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    spark.createDataFrame(
        [("web", "2024-01-10 00:00:00", 1)],
        "source string, ts string, n_tok int",
    ).withColumn("ts", SF.col("ts").cast("timestamp_ntz")).coalesce(
        1
    ).write.mode("append").parquet(src)

    as_of = 1704931200000  # 2024-01-11
    fresh = windowed.stateful_freshness(
        stream, lambda: as_of, max_age_ms=2 * 86400_000
    )
    got = windowed.run_available_now(fresh, "fresh3", str(tmp_path / "fck3"))
    final = max(
        (r for r in got if r["source"] == "web"),
        key=lambda r: r["n_rows_total"],
    )
    # both batches accumulated; the 01-10 event makes the group fresh
    assert final["n_rows_total"] == 2
    assert final["max_ts_ms"] == 1704844800000
    assert final["stale"] is False


@pytest.mark.spark
def test_stateful_freshness_survives_null_timestamps(spark, tmp_path):
    """Review regression: an all-NULL-ts group must report stale, not
    crash the Python worker on int(NaN)."""
    from datatest_spark.streaming import windowed

    src = str(tmp_path / "nsrc")
    spark.createDataFrame(
        [("web", None, 1), ("web", None, 1), ("books", "2024-01-10 00:00:00", 1)],
        "source string, ts string, n_tok int",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz")).write.mode(
        "overwrite"
    ).parquet(src)
    stream = spark.readStream.schema(
        "source string, ts timestamp_ntz, n_tok int"
    ).parquet(src)
    fresh = windowed.stateful_freshness(
        stream, lambda: 1704931200000, max_age_ms=2 * 86400_000)
    got = windowed.run_available_now(fresh, "nfresh", str(tmp_path / "nck"))
    latest = {r["source"]: r for r in got}
    assert latest["web"]["stale"] is True
    assert latest["web"]["max_ts_ms"] is None
    assert latest["web"]["n_rows_total"] == 2
    assert latest["books"]["stale"] is False


@pytest.mark.spark
def test_to_violation_rows_matches_engine_schema(spark, tmp_path):
    """Review regression: streaming violation rows must union cleanly
    with batch VIOLATION_SCHEMA frames (all 10 columns, window in detail)."""
    from datatest_spark.schema import VIOLATION_SCHEMA
    from datatest_spark.streaming import windowed

    src = str(tmp_path / "tsrc")
    _write_event_source(spark, src, [
        ("web", "2024-01-01 00:01:00", -5),
        ("web", "2024-01-01 00:12:00", -5),   # second window, same source
    ])
    stream = spark.readStream.schema(
        "source string, ts timestamp_ntz, n_tok int"
    ).parquet(src)
    rate = windowed.windowed_violation_rate(
        stream, F.col("n_tok") < 0, window="10 minutes")
    rows = windowed.run_available_now(
        windowed.to_violation_rows(rate, check_id="n_tok_neg", run_id="s1"),
        "tviol", str(tmp_path / "tck"))
    assert len(rows) == 2
    assert set(rows[0].asDict()) == set(VIOLATION_SCHEMA.names)
    # distinct windows stay distinguishable via detail
    starts = {r["detail"]["window_start"] for r in rows}
    assert len(starts) == 2
    batch_empty = spark.createDataFrame([], VIOLATION_SCHEMA)
    unioned = batch_empty.unionByName(
        spark.createDataFrame(rows, VIOLATION_SCHEMA))
    assert unioned.count() == 2


@pytest.mark.spark
def test_streaming_dedup_within_watermark(spark, tmp_path):
    from datatest_spark.streaming import windowed

    src = str(tmp_path / "dsrc")
    spark.createDataFrame(
        [
            ("2024-01-01 00:01:00", "same text"),
            ("2024-01-01 00:02:00", "same text"),      # dup inside horizon
            ("2024-01-01 00:03:00", "other text"),
            ("2024-01-01 00:03:30", "same text"),      # dup again
        ],
        "ts string, text string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz")).write.mode(
        "overwrite"
    ).parquet(src)
    stream = spark.readStream.schema("ts timestamp_ntz, text string").parquet(src)
    deduped = windowed.streaming_dedup(stream, watermark="10 minutes")
    got = windowed.run_available_now(deduped, "sdedup", str(tmp_path / "dck"))
    texts = sorted(r["text"] for r in got)
    assert texts == ["other text", "same text"]


@pytest.mark.spark
def test_streaming_dedup_null_content_passthrough(spark, tmp_path):
    # review regression: md5(null) keys made ALL null-content rows
    # collapse into one "duplicate" — they must bypass dedup instead
    from datatest_spark.streaming import windowed

    src = str(tmp_path / "ndsrc")
    spark.createDataFrame(
        [
            ("2024-01-01 00:01:00", None),
            ("2024-01-01 00:02:00", None),
            ("2024-01-01 00:03:00", "x"),
            ("2024-01-01 00:04:00", "x"),
        ],
        "ts string, text string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz")).write.mode(
        "overwrite"
    ).parquet(src)
    stream = spark.readStream.schema("ts timestamp_ntz, text string").parquet(src)
    got = windowed.run_available_now(
        windowed.streaming_dedup(stream), "sdedupnull", str(tmp_path / "ndck")
    )
    texts = sorted((r["text"] or "") for r in got)
    assert texts == ["", "", "x"]


@pytest.mark.spark
def test_streaming_dedup_matches_batch_within_horizon(spark, tmp_path):
    """Streaming↔batch parity (r2 verdict #7): within one watermark
    horizon, streaming_dedup must keep exactly the representative set
    that the batch pass (dedup.exact_duplicates) implies — one survivor
    per distinct content, nothing dropped that batch would keep."""
    from datatest_spark.operators import dedup
    from datatest_spark.streaming import windowed

    rows = [
        ("2024-01-01 00:%02d:00" % i, "text-%d" % (i % 4)) for i in range(12)
    ]  # 4 distinct contents, 3 arrivals each, all inside a 1h horizon
    src = str(tmp_path / "psrc")
    batch_df = spark.createDataFrame(rows, "ts string, text string").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    batch_df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("ts timestamp_ntz, text string").parquet(src)
    kept = windowed.run_available_now(
        windowed.streaming_dedup(stream, watermark="1 hour"),
        "sparity", str(tmp_path / "pck"),
    )

    # batch view: exact_duplicates gives the duplicate groups; survivors =
    # one per content (any representative) + all unduplicated contents
    batch_distinct = {r["text"] for r in batch_df.select("text").distinct().collect()}
    dup_groups = dedup.exact_duplicates(
        batch_df.withColumn("doc_id", F.monotonically_increasing_id()),
        text_col="text",
    ).count()
    assert dup_groups == 4  # every content is a dup group here

    kept_texts = [r["text"] for r in kept]
    assert sorted(kept_texts) == sorted(batch_distinct)  # one survivor each


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


@pytest.mark.spark
def test_windowed_histogram_stream_equals_batch(spark, tmp_path):
    """A finalized streaming window's histogram must be bit-identical
    to batch drift.histogram counts over the same slice."""
    from datatest_spark.operators import drift
    from datatest_spark.streaming import windowed

    src = str(tmp_path / "hsrc")
    rows = [
        ("web", "2024-01-01 00:0%d:00" % i, v)
        for i, v in enumerate([5, 50, 500, 50, 5])
    ] + [
        ("books", "2024-01-01 00:03:00", 120),
        (None, "2024-01-01 00:04:00", 60),
        ("web", "2024-01-01 00:02:00", None),  # null value: excluded
    ]
    _write_event_source(spark, src, rows)

    stream = spark.readStream.schema(
        "source string, ts timestamp_ntz, n_tok int"
    ).parquet(src)
    hist = windowed.windowed_histogram(
        stream, lo=0.0, hi=1000.0, nbins=10, window="10 minutes"
    )
    got = {
        (r["group"], r["bucket"]): r["n"]
        for r in windowed.run_available_now(
            hist, "whist", str(tmp_path / "hckpt")
        )
    }
    batch = spark.read.parquet(src)
    want = {
        (r["group"], r["bucket"]): r["n"]
        for r in drift.histogram(
            batch, "n_tok", "source", 0.0, 1000.0, 10
        ).collect()
    }
    assert got == want
    assert ("__null__", 1) in got  # null group coalesced, not dropped


@pytest.mark.spark
def test_drift_from_windowed_flags_shifted_window(spark, tmp_path):
    from datatest_spark.streaming import windowed

    # window A matches the reference; window B is mass-shifted
    rows = [("web", "2024-01-01 00:0%d:00" % i, 100) for i in range(5)]
    rows += [("web", "2024-01-01 00:1%d:00" % i, 900) for i in range(5)]
    src = str(tmp_path / "dsrc")
    _write_event_source(spark, src, rows)
    batch = spark.read.parquet(src)
    hist = (
        batch.select(
            F.col("ts"),
            F.col("source").alias("group"),
            F.width_bucket(
                F.col("n_tok").cast("double"), F.lit(0.0), F.lit(1000.0),
                F.lit(10),
            ).alias("bucket"),
        )
        .groupBy(
            F.window("ts", "10 minutes").alias("win"), "group", "bucket"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "group", "bucket", "n",
        )
    )
    ref = spark.createDataFrame([(2, 10.0)], "bucket int, q double")
    out = {
        (str(r["window_start"]), r["status"]): r["psi"]
        for r in windowed.drift_from_windowed(
            hist, ref, nbins=10, threshold=0.2
        ).collect()
    }
    assert len(out) == 2
    ok = [k for k in out if k[1] == "ok"]
    drifted = [k for k in out if k[1] == "drift"]
    assert len(ok) == 1 and "00:00" in ok[0][0]
    assert len(drifted) == 1 and out[drifted[0]] > 1.0


@pytest.mark.spark
def test_streaming_cusum_matches_page_recursion(spark, tmp_path):
    """Stream == literal Page recursion across a two-chunk replay, plus
    the unknown-group contract (known=False, never dropped/crashed)."""
    from datatest_spark.streaming import windowed

    ref = {"g": (100.0, 2.0)}
    head = [100.0, 102.0, 98.0, 101.0, 99.0, 100.0]
    tail = [106.0, 106.0, 106.0, 106.0]

    src = str(tmp_path / "cusrc")
    # two files, written in order; maxFilesPerTrigger=1 makes each its
    # own micro-batch so the state genuinely carries across triggers
    spark.createDataFrame(
        [("g", t, v) for t, v in enumerate(head)]
        + [("ghost", 0, 1.0)],
        "source string, t long, value double",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("source string, t long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    spark.createDataFrame(
        [("g", len(head) + t, v) for t, v in enumerate(tail)],
        "source string, t long, value double",
    ).coalesce(1).write.mode("append").parquet(src)

    out = windowed.run_available_now(
        windowed.streaming_cusum(stream, ref),
        "cusum_stream", str(tmp_path / "cuck"),
    )
    # literal recursion over the full in-order series
    mu, sig = ref["g"]
    cp = cn = 0.0
    for v in head + tail:
        cp = max(0.0, cp + (v - mu) - 0.5 * sig)
        cn = max(0.0, cn - (v - mu) - 0.5 * sig)
    final = max(
        (r for r in out if r["source"] == "g"),
        key=lambda r: r["n_points"],
    )
    assert final["n_points"] == len(head) + len(tail)
    assert final["cusum_pos"] == round(cp, 4)
    assert final["cusum_neg"] == round(cn, 4)
    assert final["alarm"] == (cp > 4.0 * sig or cn > 4.0 * sig)
    assert final["known"] is True
    # the sustained +3-sigma tail must have alarmed
    assert final["alarm"] is True
    ghost = [r for r in out if r["source"] == "ghost"]
    assert ghost and all(r["known"] is False for r in ghost)


@pytest.mark.spark
def test_streaming_cusum_replay_reports_not_corrupts(spark, tmp_path):
    from datatest_spark.streaming import windowed

    ref = {"g": (10.0, 1.0)}
    src = str(tmp_path / "cusrc2")
    spark.createDataFrame(
        [("g", 0, 10.0), ("g", 1, 11.0)],
        "source string, t long, value double",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("source string, t long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # second file REPLAYS t=1: must be reported (known=False) and not
    # applied — the final state still reflects exactly two points
    spark.createDataFrame(
        [("g", 1, 99.0)], "source string, t long, value double"
    ).coalesce(1).write.mode("append").parquet(src)

    out = windowed.run_available_now(
        windowed.streaming_cusum(stream, ref),
        "cusum_replay", str(tmp_path / "cuck2"),
    )
    rows = sorted(
        (r for r in out if r["source"] == "g"),
        key=lambda r: (r["known"] is False,),
    )
    applied = [r for r in rows if r["known"]]
    skipped = [r for r in rows if not r["known"]]
    assert applied and max(r["n_points"] for r in applied) == 2
    assert skipped and all(r["n_points"] == 2 for r in skipped)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="sigmas"):
        windowed.streaming_cusum(stream, {"g": (1.0, 0.0)})


@pytest.mark.spark
def test_streaming_transition_gate_stream_equals_batch(spark, tmp_path):
    """Summed per-batch step counts == the batch transition matrix on
    the same in-order feed, and the known flag mirrors the reference."""
    import datetime as dt

    from datatest_spark.operators.temporal import event_transition_matrix
    from datatest_spark.streaming import windowed

    t0 = dt.datetime(2026, 1, 1)
    sch = "user_id string, event_type string, ts timestamp, event_id string"

    def ev(u, ty, s, eid):
        return (u, ty, t0 + dt.timedelta(seconds=s), eid)

    head = [
        ev("u1", "view", 0, "e1"),
        ev("u1", "cart", 10, "e2"),
        ev("u2", "view", 5, "e3"),
        ev("u2", "view", 6, "e4"),
    ]
    tail = [
        ev("u1", "purchase", 20, "e5"),   # chains across the trigger
        ev("u2", "cart", 30, "e6"),
        ev("u2", "purchase", 31, "e7"),
        ev("u3", "error", 40, "e8"),
        ev("u3", "purchase", 41, "e9"),   # the novel transition
    ]
    src = str(tmp_path / "trsrc")
    spark.createDataFrame(head, sch).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    spark.createDataFrame(tail, sch).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    batch_all = spark.createDataFrame(head + tail, sch)
    ref = event_transition_matrix(batch_all).where(
        ~((F.col("prev_type") == "error") & (F.col("next_type") == "purchase"))
    )
    out = windowed.run_available_now(
        windowed.streaming_transition_gate(stream, ref),
        "transition_gate", str(tmp_path / "trck"),
    )
    # summed stream steps == batch matrix counts
    got = {}
    for r in out:
        assert r["prev_type"] is not None  # in-order feed: no sentinels
        key = (r["prev_type"], r["next_type"])
        got[key] = got.get(key, 0) + r["n"]
    want = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in event_transition_matrix(batch_all).collect()
    }
    assert got == want
    # the held-out pair is the ONLY unknown
    unknown = {
        (r["prev_type"], r["next_type"]) for r in out if not r["known"]
    }
    assert unknown == {("error", "purchase")}
    # cross-trigger chaining really happened (cart->purchase spans files)
    assert ("cart", "purchase") in got


@pytest.mark.spark
def test_streaming_transition_gate_replay_reports_not_corrupts(
    spark, tmp_path
):
    import datetime as dt

    from datatest_spark.streaming import windowed

    t0 = dt.datetime(2026, 1, 1)
    sch = "user_id string, event_type string, ts timestamp, event_id string"
    src = str(tmp_path / "trsrc2")
    spark.createDataFrame(
        [("u", "a", t0, "e1"), ("u", "b", t0 + dt.timedelta(seconds=1), "e2")],
        sch,
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # second file REPLAYS e2's timestamp: must be reported, not chained
    spark.createDataFrame(
        [("u", "c", t0 + dt.timedelta(seconds=1), "e2")], sch
    ).coalesce(1).write.mode("append").parquet(src)

    out = windowed.run_available_now(
        windowed.streaming_transition_gate(stream, [("a", "b")]),
        "transition_replay", str(tmp_path / "trck2"),
    )
    applied = [r for r in out if r["prev_type"] is not None]
    sentinel = [r for r in out if r["prev_type"] is None]
    assert {(r["prev_type"], r["next_type"]) for r in applied} == {("a", "b")}
    assert all(r["known"] for r in applied)
    assert sentinel and all(
        r["known"] is False and r["n"] == 1 for r in sentinel
    )

    with pytest.raises(ValueError, match="reference"):
        windowed.streaming_transition_gate(stream, [])


@pytest.mark.spark
def test_streaming_transition_gate_null_type_parity_with_batch(
    spark, tmp_path
):
    """A genuinely-null event_type must not mint steps the batch matrix
    drops: batch lag cannot distinguish a null prev from the boundary,
    so the gate skips null-prev steps too (review fix)."""
    import datetime as dt

    from datatest_spark.operators.temporal import event_transition_matrix
    from datatest_spark.streaming import windowed

    t0 = dt.datetime(2026, 1, 1)
    sch = "user_id string, event_type string, ts timestamp, event_id string"
    rows = [
        ("u", "a", t0, "e1"),
        ("u", None, t0 + dt.timedelta(seconds=1), "e2"),
        ("u", "b", t0 + dt.timedelta(seconds=2), "e3"),
    ]
    src = str(tmp_path / "trnull")
    spark.createDataFrame(rows, sch).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = windowed.run_available_now(
        windowed.streaming_transition_gate(stream, [("a", "b")]),
        "transition_null", str(tmp_path / "trnck"),
    )
    got = {}
    for r in out:
        got[(r["prev_type"], r["next_type"])] = (
            got.get((r["prev_type"], r["next_type"]), 0) + r["n"]
        )
    batch = spark.createDataFrame(rows, sch)
    want = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in event_transition_matrix(batch).collect()
    }
    # batch keeps (a -> null); drops (null -> b). Stream must agree.
    assert got == want
    assert ("a", None) in got and (None, "b") not in got


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


@pytest.mark.spark
def test_streaming_kmv_matches_batch_sketch(spark, tmp_path):
    """Final streaming KMV state == the batch sketch over everything
    ingested (two genuine micro-batches), including the estimator path
    past k — the mergeable-state contract that lets the persisted
    signature compose with batch snapshots."""
    from datatest_spark.operators import sketch
    from datatest_spark.streaming import windowed

    k = 16
    head = [("g", i) for i in range(40)] + [("tiny", 1), ("tiny", 2)]
    tail = [("g", i) for i in range(30, 70)] + [("tiny", 2)]

    src = str(tmp_path / "kmvsrc")
    spark.createDataFrame(head, "source string, v int").coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("source string, v int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    spark.createDataFrame(tail, "source string, v int").coalesce(
        1
    ).write.mode("append").parquet(src)

    out = windowed.run_available_now(
        windowed.streaming_kmv_distinct(stream, "v", "source", k=k),
        "kmv_stream", str(tmp_path / "kmvck"),
    )
    batch = {
        r["group"]: r
        for r in sketch.kmv_distinct(
            spark.createDataFrame(head + tail, "source string, v int"),
            "v", "source", k=k,
        ).collect()
    }
    for grp in ("g", "tiny"):
        final = max(
            (r for r in out if r["group"] == grp),
            key=lambda r: r["n_ingested"],
        )
        want = batch[grp]
        assert final["n_kept"] == want["n_kept"], grp
        assert final["is_exact"] == want["is_exact"], grp
        assert abs(final["est_distinct"] - want["est_distinct"]) < 1e-6, grp
    # the big group crossed k: estimator path, not exact
    assert not batch["g"]["is_exact"]
    assert batch["tiny"]["is_exact"]
    with pytest.raises(ValueError):
        windowed.streaming_kmv_distinct(stream, "v", "source", k=1)


def test_streaming_kmv_zero_hash_estimate_is_null():
    from datatest_spark.streaming import windowed

    # u_k = 0: NULL as in the non-ANSI batch division, never a
    # ZeroDivisionError that kills the streaming query
    assert windowed._kmv_estimate([0], k=1) is None
