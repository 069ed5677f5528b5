"""Watermarked windowed streaming operators (engine extension, §2.10).

The reference has no streaming surface; these are the Structured
Streaming counterparts of the batch wide-stats / freshness checks for
continuous ingestion:

* ``windowed_stats``     — event-time tumbling-window per-source stats
                           (count / null-rate / min / max) with a
                           watermark so late data is bounded and state
                           is evicted — the streaming analogue of the
                           C1 wide aggregation pass;
* ``windowed_violation_rate`` — per-window violation counts for any
                           fused row-condition (the streaming row-check
                           scan);
* ``stateful_freshness`` — custom stateful operator via
                           ``applyInPandasWithState``: tracks the max
                           event timestamp per source across batches and
                           emits a staleness verdict per update — state
                           the built-in window aggregation cannot express
                           (it needs the *latest seen* ts regardless of
                           window).

All three return unstarted streaming DataFrames; callers pick the sink.
Tested with the in-memory sink (availableNow) in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _with_event_time(stream: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (an instant); NTZ event-time columns
    are cast through the session timezone (the engine pins UTC in
    get_spark, so NTZ values map 1:1 onto instants)."""
    if dict(stream.dtypes).get(ts_col) == "timestamp_ntz":
        return stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream


def windowed_stats(
    stream: DataFrame,
    ts_col: str = "ts",
    group_col: str = "source",
    value_col: str = "n_tok",
    window: str = "10 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Tumbling event-time window stats per group with bounded lateness.

    The watermark bounds state: windows older than (max event time −
    watermark) are finalized and evicted — at 10^12-row streams the state
    store holds only the open windows per group, not history.
    """
    w = _with_event_time(stream, ts_col).withWatermark(ts_col, watermark)
    v = F.col(value_col)
    return (
        w.groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(v.isNull().cast("long")).alias("n_nulls"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            group_col,
            "n_rows",
            "n_nulls",
            "min_v",
            "max_v",
        )
    )


def windowed_violation_rate(
    stream: DataFrame,
    condition,
    ts_col: str = "ts",
    group_col: str = "source",
    window: str = "10 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Per-window violation counts for a row-level Column condition —
    the streaming form of the fused row-check scan (one pass, the
    violation flag aggregates map-side before the window shuffle).

    NULL-evaluating conditions count as PASS here (coalesce to false):
    encode the intended null semantics in the condition itself, exactly
    as the batch fused checks do (e.g. ``~c.isin(...) | c.isNull()`` to
    treat nulls as violations — operators/checks.py ReferentialCheck)."""
    w = _with_event_time(stream, ts_col).withWatermark(ts_col, watermark)
    return (
        w.groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.coalesce(condition, F.lit(False)).cast("long")).alias(
                "n_violations"
            ),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            F.col(group_col),
            "n_rows",
            "n_violations",
            F.when(F.col("n_violations") > 0, "fail").otherwise("pass").alias(
                "status"
            ),
        )
    )


_FRESH_STATE_SCHEMA = "max_ts_ms long, n_rows long"
_FRESH_OUT_SCHEMA = (
    "source string, max_ts_ms long, n_rows_total long, stale boolean"
)


def stateful_freshness(
    stream: DataFrame,
    as_of_ms_fn,
    max_age_ms: int,
    ts_col: str = "ts",
    group_col: str = "source",
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Custom stateful freshness monitor (``applyInPandasWithState``).

    Keeps one tiny state row per group — the max event-time millis and a
    running row count — and on every trigger emits whether the group has
    gone stale relative to ``as_of_ms_fn()`` (injected clock: tests pass
    a fixed lambda; production passes time.time-based). This needs
    arbitrary state because staleness depends on the latest ts *ever
    seen*, not on any bounded window.

    ``idle_timeout_ms`` (optional) evicts groups that stop sending data
    entirely via ProcessingTimeTimeout — their final update has already
    flagged them stale. It is OFF by default because a pending
    processing-time timeout keeps bounded triggers (availableNow) in a
    'cleaning up state' loop that never terminates; enable it for
    continuously-triggered production monitors only.
    """
    import pandas as pd  # noqa: F401 (annotation resolution inside Spark)

    from ..operators.checks import epoch_ms

    # checks.epoch_ms carries the TZ-free type dispatch
    # (NTZ/date via timestamp_diff, LTZ via unix_millis, numeric as-is)
    ms_expr = epoch_ms(stream, ts_col)
    prepared = stream.select(
        F.col(group_col).cast("string").alias("source"), ms_expr.alias("ts_ms")
    )

    threshold = int(max_age_ms)

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        def verdict(max_ts, n):
            stale = max_ts is None or max_ts < as_of_ms_fn() - threshold
            return pd.DataFrame(
                {
                    "source": [key[0]],
                    "max_ts_ms": [max_ts],
                    "n_rows_total": [n],
                    "stale": [stale],
                }
            )

        if state.hasTimedOut:
            # a silent group's timer fired: by construction it is stale
            # (no data for idle_timeout_ms) — emit the final verdict
            # BEFORE evicting, or silence would never be reported
            max_ts, n = tuple(state.get) if state.exists else (None, 0)
            state.remove()
            yield verdict(max_ts, n)
            return
        max_ts, n = tuple(state.get) if state.exists else (None, 0)
        for pdf in pdfs:
            # NULL event times arrive as NaN — exactly the dirty data a
            # validation engine must survive, not crash on
            valid_ts = pdf["ts_ms"].dropna()
            if len(valid_ts):
                batch_max = int(valid_ts.max())
                max_ts = batch_max if max_ts is None else max(max_ts, batch_max)
            n += len(pdf)
        state.update((max_ts, n))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(int(idle_timeout_ms))
        yield verdict(max_ts, n)

    return prepared.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=_FRESH_OUT_SCHEMA,
        stateStructType=_FRESH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if idle_timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def streaming_dedup(
    stream: DataFrame,
    ts_col: str = "ts",
    content_col: str = "text",
    watermark: str = "10 minutes",
    extra_key_cols=(),
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: the streaming analogue
    of dedup.exact_duplicates for continuous ingestion.

    Keys on md5(content) (+ optional extra key columns) and uses
    ``dropDuplicatesWithinWatermark`` — duplicates arriving inside the
    watermark horizon are dropped and a key's state is evicted once the
    watermark passes it. Plain ``dropDuplicates`` on a stream keeps
    every key ever seen, which at 10^12-row streams is an unbounded
    state store; the watermark variant holds only the horizon's keys.
    Re-emission of a duplicate *after* the horizon is the documented
    trade-off: exact global dedup belongs to the batch/compaction pass.

    Null-content rows bypass dedup entirely: md5(null) is null and
    dropDuplicatesWithinWatermark treats null keys as equal, which would
    silently collapse every distinct null-content record in the horizon
    into one — a null payload is unjudgeable, not a duplicate.
    """
    w = _with_event_time(stream, ts_col).withWatermark(ts_col, watermark)
    hashed = w.withColumn("content_hash", F.md5(F.col(content_col)))
    keys = ["content_hash"] + list(extra_key_cols)
    deduped = hashed.filter(
        F.col(content_col).isNotNull()
    ).dropDuplicatesWithinWatermark(keys)
    passthrough = hashed.filter(F.col(content_col).isNull())
    return deduped.unionByName(passthrough)


def run_available_now(stream_df: DataFrame, query_name: str, checkpoint: str):
    """Drain all currently-available input into an in-memory sink and
    return the collected rows (test/inspection helper)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.sql(
        "SELECT * FROM {0}".format(query_name)
    ).collect()


def to_violation_rows(windowed: DataFrame, check_id: str = "windowed",
                      run_id: str = "stream") -> DataFrame:
    """Adapt windowed fail rows to the engine's FULL violation-row shape
    (schema.VIOLATION_SCHEMA) so they union/append cleanly into the same
    sinks as batch violations; the window bounds land in ``detail`` so
    per-window rows stay distinguishable and re-keyable."""
    from ..schema import VIOLATION_SCHEMA

    bad = windowed.filter(F.col("status") == "fail")
    shaped = bad.select(
        F.lit(run_id).alias("run_id"),
        F.lit(check_id).alias("check_id"),
        F.lit("deviation").alias("kind"),
        F.concat(F.lit("source="), F.col("source")).alias("partition_key"),
        F.lit(None).cast("string").alias("group_key"),
        F.lit(None).cast("string").alias("doc_id"),
        F.col("n_violations").cast("string").alias("value"),
        F.lit("0").alias("expected"),
        F.col("n_violations").cast("double").alias("deviation"),
        F.create_map(
            F.lit("window_start"), F.col("window_start").cast("string"),
            F.lit("window_end"), F.col("window_end").cast("string"),
        ).alias("detail"),
    )
    return shaped.select(*VIOLATION_SCHEMA.names)


def windowed_histogram(
    stream: DataFrame,
    ts_col: str = "ts",
    group_col: str = "source",
    value_col: str = "n_tok",
    lo: float = 0.0,
    hi: float = 4096.0,
    nbins: int = 10,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Per-event-time-window bucket counts — the streaming half of a
    drift gate. ONE stateful aggregation keyed on (window, group,
    bucket): at most |groups| x (nbins+2) state rows per open window,
    watermark-evicted, regardless of stream volume. Bucketization is
    the EXACT expression batch drift uses (``width_bucket`` over
    [lo, hi] with 0 / nbins+1 under/overflow buckets, null groups
    coalesced to '__null__') so a finalized window's histogram is
    bit-identical to running operators/drift.histogram on the same
    slice — stream ≡ batch is pinned in tests, and
    :func:`drift_from_windowed` consumes either side.
    """
    w = _with_event_time(stream, ts_col).withWatermark(ts_col, watermark)
    v = F.col(value_col).cast("double")
    bucketed = w.filter(v.isNotNull()).select(
        F.col(ts_col),
        F.coalesce(F.col(group_col).cast("string"), F.lit("__null__")).alias(
            "group"
        ),
        F.width_bucket(v, F.lit(lo), F.lit(hi), F.lit(nbins)).alias("bucket"),
    )
    return (
        bucketed.groupBy(
            F.window(F.col(ts_col), window).alias("win"), "group", "bucket"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "group",
            "bucket",
            "n",
        )
    )


def drift_from_windowed(
    hist: DataFrame,
    reference: DataFrame,
    nbins: int = 10,
    eps: float = 1e-9,
    threshold: float = 0.2,
) -> DataFrame:
    """PSI per finalized (window, group) slice against a REFERENCE
    bucket distribution — the batch half of the streaming drift gate:
    :func:`windowed_histogram` keeps the stream-side state tiny, and
    this runs on its sink (or on any batch histogram with the same
    (window_start, window_end, group, bucket, n) shape).

    ``reference`` is (bucket, q): the expected bucket fractions (e.g.
    the training corpus's n_tok distribution) — normalized here so
    callers can pass raw counts. The PSI term matches the engine's
    batch drift convention exactly: ``(max(p,eps) - max(q,eps)) *
    ln(max(p,eps) / max(q,eps))`` summed over the DENSE bucket grid
    (a bucket absent from the window slice must contribute its
    reference mass at p=eps; a sparse join would silently drop it).

    Scale shape: the input is already aggregate (|windows| x |groups|
    x (nbins+2) rows); the grid cross-join, reference broadcast, and
    final (window, group) agg never touch stream volume. Returns
    (window_start, window_end, group, n_rows, psi, status).
    """
    spark = hist.sparkSession
    slices = hist.select("window_start", "window_end", "group").distinct()
    grid = slices.crossJoin(
        spark.range(0, nbins + 2).select(F.col("id").cast("int").alias("bucket"))
    )
    dense = grid.join(
        hist, ["window_start", "window_end", "group", "bucket"], "left"
    ).select(
        "window_start",
        "window_end",
        "group",
        "bucket",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
    )
    ref_tot = reference.agg(F.sum("q").alias("_rt"))
    ref = reference.crossJoin(F.broadcast(ref_tot)).select(
        "bucket", (F.col("q") / F.col("_rt")).alias("_q")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start", "window_end", "group")
    pq = (
        dense.withColumn("_p", F.col("n") / F.sum("n").over(w))
        .join(F.broadcast(ref), "bucket", "left")
        .select(
            "window_start",
            "window_end",
            "group",
            "n",
            F.greatest(F.coalesce(F.col("_p"), F.lit(0.0)), F.lit(eps)).alias(
                "_pe"
            ),
            F.greatest(F.coalesce(F.col("_q"), F.lit(0.0)), F.lit(eps)).alias(
                "_qe"
            ),
        )
    )
    term = (F.col("_pe") - F.col("_qe")) * F.log(F.col("_pe") / F.col("_qe"))
    return (
        pq.groupBy("window_start", "window_end", "group")
        .agg(
            F.sum("n").alias("n_rows"),
            F.round(F.sum(term), 4).alias("psi"),
        )
        .select(
            "window_start",
            "window_end",
            "group",
            "n_rows",
            "psi",
            F.when(F.col("psi") > F.lit(float(threshold)), "drift")
            .otherwise("ok")
            .alias("status"),
        )
    )


_CUSUM_STATE_SCHEMA = "cpos double, cneg double, n long, last_t long"
_CUSUM_OUT_SCHEMA = (
    "source string, n_points long, cusum_pos double, cusum_neg double, "
    "alarm boolean, known boolean"
)


def streaming_cusum(
    stream: DataFrame,
    reference: dict,
    value_col: str = "value",
    order_col: str = "t",
    group_col: str = "source",
    slack_k: float = 0.5,
    threshold_h: float = 4.0,
) -> DataFrame:
    """Streaming Page CUSUM over a per-group metric series — the
    continuous form of ``stats.cusum_changepoints``. The batch operator
    is retrospective (μ/σ from the window itself); a stream can't see
    its own future, so this is the PROSPECTIVE form: ``reference`` maps
    each group to its ``(mu, sigma)`` from a clean reference period
    (e.g. a robust_location / column_stats pass over last quarter), and
    the stream accumulates C⁺/C⁻ against that fixed model forever —
    exactly one tiny state row (two doubles + two longs) per group.

    Within a micro-batch, rows are applied in ``order_col`` order (the
    engine hands arbitrary arrival order); ACROSS batches the recursion
    applies them in arrival order, so feed an in-order series (per-day
    aggregates appended as days close — the normal shape). A batch
    whose minimum order key precedes the last applied key is a replay /
    out-of-order feed: the state row would be corrupted silently, so
    the update emits ``known=False`` for that batch and skips it
    (the loud alternative — raising — kills the whole query).

    Groups absent from ``reference`` also emit ``known=False`` rows
    (never silently dropped, never a crash). Null values are skipped.

    Returns an unstarted streaming frame (source, n_points, cusum_pos,
    cusum_neg, alarm, known) in update mode; ``alarm`` fires when
    either side exceeds ``threshold_h·sigma``. Stream ≡ the literal
    Page recursion is pinned in tests/test_streaming.py across a
    two-chunk replay.
    """
    import math  # noqa: F401

    ref = {
        str(g): (float(m), float(s)) for g, (m, s) in reference.items()
    }
    if not ref:
        raise ValueError("streaming_cusum: reference must be non-empty")
    if any(s <= 0 for (_, s) in ref.values()):
        raise ValueError(
            "streaming_cusum: reference sigmas must be > 0 (a zero-"
            "variance reference makes every point an alarm)"
        )
    k = float(slack_k)
    h = float(threshold_h)

    prepared = stream.select(
        F.col(group_col).cast("string").alias("source"),
        F.col(order_col).cast("long").alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        g = key[0]

        def out(n, cp, cn, alarm, known):
            return pd.DataFrame(
                {
                    "source": [g],
                    "n_points": [n],
                    "cusum_pos": [cp],
                    "cusum_neg": [cn],
                    "alarm": [alarm],
                    "known": [known],
                }
            )

        if g not in ref:
            yield out(0, None, None, None, False)
            return
        mu, sig = ref[g]
        # GroupState.get is a PROPERTY in PySpark 4 — calling it crashes
        # on the second trigger, the first time state actually exists
        # (pinned by the two-batch tests)
        cp, cn, n, last_t = (
            tuple(state.get) if state.exists else (0.0, 0.0, 0, None)
        )
        rows = []
        for pdf in pdfs:
            sub = pdf.dropna(subset=["_v"])
            rows.extend(
                (int(t) if not pd.isna(t) else None, float(v))
                for t, v in zip(sub["_t"], sub["_v"])
            )
        rows.sort(key=lambda r: (r[0] is None, r[0]))
        if (
            rows
            and last_t is not None
            and rows[0][0] is not None
            and rows[0][0] <= last_t
        ):
            # replay / out-of-order feed: applying it would corrupt the
            # recursion silently — report, don't apply, don't crash
            yield out(n, cp, cn, None, False)
            return
        for t, v in rows:
            d = v - mu
            cp = max(0.0, cp + d - k * sig)
            cn = max(0.0, cn - d - k * sig)
            n += 1
            if t is not None:
                last_t = t
        state.update((cp, cn, n, last_t))
        yield out(n, round(cp, 4), round(cn, 4),
                  cp > h * sig or cn > h * sig, True)

    return prepared.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=_CUSUM_OUT_SCHEMA,
        stateStructType=_CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_TRANS_STATE_SCHEMA = "last_type string, last_us long, last_tb string"
_TRANS_OUT_SCHEMA = (
    "user string, prev_type string, next_type string, n long, "
    "known boolean"
)


def streaming_transition_gate(
    stream: DataFrame,
    reference,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Never-before-seen event transitions, live — the streaming twin
    of ``temporal.event_transition_matrix``. The batch operator builds
    the WHAT-follows-what matrix retrospectively; this gate holds that
    matrix fixed (``reference``: the (prev_type, next_type) pairs
    observed in a clean period) and flags each micro-batch's steps
    against it, so an instrumentation bug that mints an impossible
    transition (error->purchase) pages within one trigger instead of
    at the next batch audit.

    ``reference`` is a batch DataFrame carrying (prev_type, next_type)
    — typically ``event_transition_matrix(...)`` output — or any
    iterable of (prev, next) pairs. It is |event types|^2 rows at most,
    so it collects to a driver-side frozenset baked into the stateful
    closure (the applyInPandasWithState kernel cannot join; a real
    deployment re-launches the query to pick up a refreshed matrix).

    State per user is ONE row (last event's type, timestamp-µs,
    tiebreak) — the chaining cursor — so state size is |active users|,
    independent of stream volume. Within a micro-batch rows chain in
    (ts, tiebreak) order, the batch operator's exact sort; ACROSS
    batches they chain in arrival order, so feed an in-order stream
    (per the source's append order — the normal log-shipping shape).
    A batch whose first event precedes the stored cursor is a replay /
    out-of-order feed: chaining it would mint a transition that never
    happened, so the update emits one sentinel row (null types,
    n = batch size, known=false) and skips the batch, leaving the
    cursor intact. Null-timestamp rows are dropped up front (no
    defined position — matching the batch operator).

    Returns an unstarted update-mode streaming frame (user, prev_type,
    next_type, n, known): per (user, batch, transition) step counts
    with ``known`` = pair present in the reference. Filter
    ``known = false`` for the alert sink; summing ``n`` over
    (prev_type, next_type) across all emitted rows of an in-order
    replay reproduces the batch matrix's ``n`` exactly (pinned in
    tests/test_streaming.py).
    """
    if isinstance(reference, DataFrame):
        pairs = frozenset(
            (r[0], r[1])
            for r in reference.select("prev_type", "next_type").collect()
        )
    else:
        pairs = frozenset((p, n) for (p, n) in reference)
    if not pairs:
        raise ValueError(
            "streaming_transition_gate: reference must carry at least "
            "one (prev_type, next_type) pair"
        )

    prepared = (
        _with_event_time(stream, ts_col)
        .where(F.col(ts_col).isNotNull())
        .select(
            F.col(user_col).cast("string").alias("user"),
            F.col(type_col).cast("string").alias("_ty"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
            F.col(tiebreak_col).cast("string").alias("_tb"),
        )
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        user = key[0]
        last_type, last_us, last_tb = (
            tuple(state.get) if state.exists else (None, None, None)
        )
        rows = []
        for pdf in pdfs:
            rows.extend(
                (
                    int(us),
                    tb if isinstance(tb, str) else ("" if pd.isna(tb) else str(tb)),
                    ty if isinstance(ty, str) else (None if pd.isna(ty) else str(ty)),
                )
                for us, tb, ty in zip(pdf["_us"], pdf["_tb"], pdf["_ty"])
            )
        if not rows:
            return
        rows.sort(key=lambda r: (r[0], r[1]))
        if last_us is not None and (rows[0][0], rows[0][1]) <= (
            last_us,
            last_tb or "",
        ):
            # replay / out-of-order feed: chaining would mint a
            # transition that never happened — report, don't apply
            yield pd.DataFrame(
                {
                    "user": [user],
                    "prev_type": [None],
                    "next_type": [None],
                    "n": [len(rows)],
                    "known": [False],
                }
            )
            return
        counts: dict = {}
        prev = last_type if last_us is not None else None
        primed = last_us is not None
        for _us, _tb, ty in rows:
            # a None prev is a genuinely-null event_type, not the
            # stream boundary (primed tracks that) — the batch matrix
            # drops such steps (lag's null prev is indistinguishable
            # from the boundary there), so parity requires skipping
            if primed and prev is not None:
                step = (prev, ty)
                counts[step] = counts.get(step, 0) + 1
            prev, primed = ty, True
        tail_us, tail_tb, tail_ty = rows[-1]
        state.update((tail_ty, tail_us, tail_tb))
        if counts:
            yield pd.DataFrame(
                {
                    "user": [user] * len(counts),
                    "prev_type": [p for (p, _) in counts],
                    "next_type": [n for (_, n) in counts],
                    "n": list(counts.values()),
                    "known": [(p, n) in pairs for (p, n) in counts],
                }
            )

    return prepared.groupBy("user").applyInPandasWithState(
        update,
        outputStructType=_TRANS_OUT_SCHEMA,
        stateStructType=_TRANS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_KMV_STATE_SCHEMA = "sig array<long>, n_ingested long"
_KMV_OUT_SCHEMA = (
    "group string, n_ingested long, n_kept long, is_exact boolean, "
    "est_distinct double"
)


def _kmv_estimate(merged, k):
    """``kmv_distinct``'s estimate over a sorted bottom-k list: exact
    below k values, else ``(k-1) / (u_k / 2^60)``. A u_k of 0 gives None,
    the NULL of the batch division with ANSI off (ANSI raises there);
    a ZeroDivisionError here would kill the streaming query."""
    if len(merged) < k:
        return float(len(merged))
    if merged[-1] == 0:
        return None
    return round(float(k - 1) * float(1 << 60) / float(merged[-1]), 4)


def streaming_kmv_distinct(
    stream: DataFrame,
    col: str,
    group_col: str = "source",
    k: int = 64,
) -> DataFrame:
    """Continuous distinct-cardinality gate: the bottom-k KMV sketch
    maintained as streaming state — per group exactly k longs FOREVER,
    regardless of how many distinct values flow past (the property that
    makes it the only honest way to watch "distinct doc_ids so far" on
    an unbounded ingest; a windowed count-distinct forgets, an exact
    running set grows without bound).  Emits the running
    ``(group, n_kept, is_exact, est_distinct)`` estimate per trigger,
    with :func:`operators.sketch.kmv_distinct`'s exact arithmetic — the
    final state equals the batch sketch over everything ingested
    (stream ≡ batch, pinned), and the persisted signature merges with
    any batch snapshot via ``kmv_snapshot_delta``.

    The 60-bit hash is computed JVM-side (map-only codegen) BEFORE the
    stateful operator; Python only merges two sorted long lists per
    trigger.  Null values are not values (dropped up front).
    """
    if k < 2:
        raise ValueError("kmv: k must be >= 2 (the estimator uses k-1)")
    prepared = stream.where(F.col(col).isNotNull()).select(
        F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
        .alias("group"),
        F.conv(
            F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10
        )
        .cast("long")
        .alias("_u"),
    )
    def update(key, pdfs, state: GroupState):
        import pandas as pd

        g = key[0]
        # GroupState.get is a PROPERTY in PySpark 4 (the CUSUM pin)
        sig, n_ing = (
            tuple(state.get) if state.exists else ([], 0)
        )
        seen = set(int(u) for u in (sig or []))
        n_ing = int(n_ing or 0)
        for pdf in pdfs:
            us = pdf["_u"].dropna()
            n_ing += int(len(us))
            seen.update(int(u) for u in us)
        merged = sorted(seen)[:k]
        state.update((merged, n_ing))
        n_kept = len(merged)
        est = _kmv_estimate(merged, k)
        yield pd.DataFrame(
            {
                "group": [g],
                "n_ingested": [n_ing],
                "n_kept": [n_kept],
                "is_exact": [n_kept < k],
                "est_distinct": [est],
            }
        )

    return prepared.groupBy("group").applyInPandasWithState(
        update,
        outputStructType=_KMV_OUT_SCHEMA,
        stateStructType=_KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
