"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Every query is an operator of the engine (SURVEY.md §2 / the
training-data pipeline ops); Spark-side column aliases match the oracle
SQL exactly. Queries without an oracle entry are genuinely
approximate/non-SQL ops (SimHash, DEFLATE) and get the rows-only
check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datatest_spark.operators import dedup, text


def _t(spark, sf_dir, name):
    return spark.read.parquet("{0}/{1}.parquet".format(sf_dir, name))


# ---------------------------------------------------------------------------
# Validation-engine operators over the driver tables
# ---------------------------------------------------------------------------

def q_wide_stats_documents(spark, sf_dir):
    """A10/C1: per-partition wide stats (exact forms for oracle parity)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("lang").isNull().cast("long")).alias("n_null_lang"),
        F.countDistinct("lang").alias("n_distinct_lang"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


def q_tpch_q1_pricing(spark, sf_dir):
    """A1-A7 composite: the classic grouped-agg shape (TPC-H Q1)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_uniqueness_surplus(spark, sf_dir):
    """A8/V10: duplicate keys with surplus multiplicity."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupBy(F.col("l_orderkey").alias("dup_key"))
        .agg((F.count(F.lit(1)) - 1).alias("surplus"))
        .filter(F.col("surplus") > 0)
    )


def q_referential_orphans(spark, sf_dir):
    """J1/J3: orders whose customer is absent (broadcast left_anti)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return o.join(
        F.broadcast(c), o["o_custkey"] == c["c_custkey"], "left_anti"
    ).select("o_orderkey")


def q_set_extra_values(spark, sf_dir):
    """V8 subset direction: distinct data values outside the allowed set."""
    c = _t(spark, sf_dir, "customer")
    allowed = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
    return (
        c.select(F.col("c_mktsegment").alias("value"))
        .distinct()
        .filter(~F.col("value").isin(allowed))
    )


def q_set_missing_required(spark, sf_dir):
    """V9 superset direction: required values absent from the data (J2)."""
    c = _t(spark, sf_dir, "customer")
    required = spark.createDataFrame(
        [("AUTOMOBILE",), ("MACHINERY",), ("AEROSPACE",)], "value string"
    )
    present = c.select(F.col("c_mktsegment").alias("value")).distinct()
    return required.join(present, "value", "left_anti")


def q_interval_deviations(spark, sf_dir):
    """V6: out-of-interval rows with Deviation vs the nearest bound."""
    l = _t(spark, sf_dir, "lineitem")
    lo, hi = 2.0, 49.0
    bad = l.filter((F.col("l_quantity") < lo) | (F.col("l_quantity") > hi))
    return bad.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("value"),
        F.when(F.col("l_quantity") < lo, F.col("l_quantity") - lo)
        .otherwise(F.col("l_quantity") - hi)
        .alias("deviation"),
    )


def q_negative_balance_deviation(spark, sf_dir):
    """P1 numeric Deviation: negative balances deviating from 0."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_acctbal") < 0).select(
        "c_custkey",
        F.col("c_acctbal").alias("value"),
        F.col("c_acctbal").alias("deviation"),
    )


def q_regex_invalid(spark, sf_dir):
    """V3/P3: rows failing a regex requirement."""
    e = _t(spark, sf_dir, "events")
    return e.filter(~F.col("props").rlike('"k": \\d+')).select("event_id")


def q_json_extract_stats(spark, sf_dir):
    """F4-ish projection + group stats over an extracted JSON field."""
    e = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), '"k": (\\d+)', 1).cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 2).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_topk_per_group(spark, sf_dir):
    """O2/O3: deterministic top-k per group via ranking window."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


def q_histogram_n_chars(spark, sf_dir):
    """A11 input: per-source bucketed histogram (portable arithmetic)."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.least(
        F.greatest(F.floor(F.col("n_chars") / 100.0), F.lit(0)), F.lit(9)
    ).cast("int")
    return (
        d.groupBy("source", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_consistency_verdicts(spark, sf_dir):
    """C4-style per-partition verdict: n_chars == length(text)."""
    d = _t(spark, sf_dir, "documents")
    viol = (F.col("n_chars") != F.length("text")).cast("long")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(viol).alias("n_violations"),
    ).select(
        "source",
        "n_rows",
        "n_violations",
        F.when(F.col("n_violations") > 0, "fail").otherwise("pass").alias("status"),
    )


def q_freshness_events(spark, sf_dir):
    """Temporal min/max stats (datetime support, §1.2)."""
    e = _t(spark, sf_dir, "events")
    # parquet ts is TIMESTAMP_NTZ; NTZ-to-NTZ millisecond difference from
    # the epoch is session-timezone-free and matches DuckDB's epoch_ms
    ms = F.timestamp_diff(
        "MILLISECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("ts"),
    )
    return e.groupBy("event_type").agg(
        F.min(ms).alias("min_ts_ms"),
        F.max(ms).alias("max_ts_ms"),
        F.count(F.lit(1)).alias("n"),
    )


def q_freshness_gate(spark, sf_dir):
    """FreshnessCheck end-to-end (TZ-free epoch math): per-event_type
    partitions whose max(ts) is older than max_age relative to as_of."""
    from datatest_spark.operators.checks import FreshnessCheck
    from datatest_spark.operators.stats import partition_key_col

    e = _t(spark, sf_dir, "events")
    keyed = e.withColumn("partition_key", partition_key_col(["event_type"]))
    chk = FreshnessCheck("ts", as_of_ms=1706659200000, max_age_ms=1_200_000)
    v = chk.violations(keyed)
    return v.select(
        "partition_key",
        "kind",
        F.col("value").cast("long").alias("max_ts_ms"),
        F.col("deviation").cast("long").alias("lag_ms"),
    )


def q_join_revenue(spark, sf_dir):
    """J-family: broadcast/SMJ equi-join + grouped aggregation."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


def q_suite_verdicts(spark, sf_dir):
    """The engine's suite runner end-to-end: per-partition verdicts for
    uniqueness + referential checks on documents (north-star shape)."""
    from datatest_spark.operators.checks import ReferentialCheck, UniquenessCheck
    from datatest_spark.plans.suite import ValidationSuite

    d = _t(spark, sf_dir, "documents")
    suite = ValidationSuite(
        checks=[
            UniquenessCheck("doc_id"),
            ReferentialCheck("lang", allowed=["en", "es", "de", "fr", "zh"],
                             id_col="doc_id"),
        ],
        partition_cols=("source",),
    )
    res = suite.run(d, run_id="driver")
    return res.verdicts.select(
        "partition_key", "check_id", "status", "n_violations"
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators (documents / embeddings)
# ---------------------------------------------------------------------------

def q_token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text.token_count().alias("n_words"))


def q_regex_token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text.regex_token_count().cast("long").alias("n_tokens"))


def q_quality_profile(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return text.text_profile(d)


def q_langid_confusion(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", text.lang_id().alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_exact_dup_groups(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_duplicates(d).select("content_hash", "n_docs")


def q_fingerprints(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") < 100).select(
        "doc_id", text.fingerprint().alias("fp")
    )


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprint SET per document (text.winnow_fingerprints):
    min shingle-hash per sliding window, exploded to scalar rows so the
    driver can hash-compare. Oracle reproduces the first-occurrence
    shingle order via MIN(position) + a window self-join."""
    d = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    ).filter(F.col("text").isNotNull())
    return d.select(
        "doc_id",
        F.explode(text.winnow_fingerprints(k=5, window=4)).alias("fp"),
    ).distinct()


def q_minhash_signatures(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return dedup.minhash_signatures(d, num_hashes=4)


def q_jaccard_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, k=5, threshold=0.5)


def q_minhash_error_audit(spark, sf_dir):
    """Estimator-quality audit: 8-row MinHash agreement vs exact Jaccard
    on the same capped shingle space (dedup.minhash_error_audit)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_error_audit(d, num_hashes=8, min_jaccard=0.2)


def q_heaps_fit(spark, sf_dir):
    """Vocabulary-growth (Heaps'-law) curve + fixed-point log2 fit
    (text.heaps_fit): 10 equal-id-range checkpoints, cumulative tokens
    vs cumulative distinct vocabulary, beta/r2 repeated per row."""
    d = _t(spark, sf_dir, "documents")
    return text.heaps_fit(d, n_buckets=10)


def q_dup_ngram_fraction(spark, sf_dir):
    """Per-source duplicated-5-gram share (dedup.dup_ngram_fraction):
    document-mean and pooled-instance views of how much of each source's
    n-gram mass also occurs elsewhere in the corpus. No self-join —
    one shingle-frequency exchange + one per-source rollup."""
    d = _t(spark, sf_dir, "documents")
    return dedup.dup_ngram_fraction(d, k=5).select(
        F.col("group").alias("source"),
        "n_docs",
        "mean_dup_frac",
        "pooled_dup_share",
    )


def q_fuzzy_dup_pairs(spark, sf_dir):
    """Edit-distance near-dup pairs over 32-char keys
    (dedup.fuzzy_dup_pairs): q-gram candidate generation is LOSSLESS at
    these parameters (32 - 3 + 1 - 3*4 = 18 >= 1 shared grams
    guaranteed), so the oracle is the plain all-pairs levenshtein
    join."""
    d = _t(spark, sf_dir, "documents")
    return dedup.fuzzy_dup_pairs(
        d, max_distance=4, key_chars=32, q=3, df_cap=None
    )


def q_quantile_shift(spark, sf_dir):
    """Per-quantile n_chars drift of every source vs src0
    (drift.quantile_shift): WHERE in the length distribution each
    source departs from the baseline, not just that it does."""
    from datatest_spark.operators import drift

    d = _t(spark, sf_dir, "documents")
    return drift.quantile_shift(
        d, "n_chars", "source", "src0",
        quantiles=(0.1, 0.25, 0.5, 0.75, 0.9), exact=True,
    )


def q_percentile_rank(spark, sf_dir):
    """Within-source percentile rank of n_chars
    (stats.percentile_rank_normalize, exact CUME_DIST form — the
    oracle variant; the map-only approx path is pytest-pinned)."""
    from datatest_spark.operators import stats

    d = _t(spark, sf_dir, "documents")
    return stats.percentile_rank_normalize(
        d, "n_chars", "source", "doc_id", exact=True
    )


def q_freq_spectrum(spark, sf_dir):
    """Good-Turing frequency-of-frequencies spectrum per source
    (text.freq_spectrum): distinct token types and token mass per
    log2 count bucket — bucket edges via integer bit-length, never
    float log."""
    d = _t(spark, sf_dir, "documents")
    return text.freq_spectrum(d, group_col="source").select(
        F.col("group").alias("source"),
        "freq_bucket",
        "min_count",
        "n_types",
        "token_mass",
    )


def q_jaccard_sweep(spark, sf_dir):
    """Dedup-aggressiveness curve (dedup.jaccard_threshold_sweep):
    cumulative near-dup pair + touched-document counts per candidate
    threshold, priced from ONE shared-shingle overlap pass."""
    d = _t(spark, sf_dir, "documents")
    return dedup.jaccard_threshold_sweep(
        d, k=5, thresholds=(0.3, 0.5, 0.7, 0.9), df_cap=1000
    )


def q_chain_collapse(spark, sf_dir):
    """Near-dup graph transitivity (dedup.chain_collapse_audit): the
    cluster-collapse risk metric for connected-components dedup —
    fraction of wedges A-B-C whose closing edge A-C is also a
    near-dup pair."""
    d = _t(spark, sf_dir, "documents")
    return dedup.chain_collapse_audit(d, k=5, threshold=0.5, df_cap=1000)


def q_prefix_jaccard_pairs(spark, sf_dir):
    """Lossless prefix-filtered exact Jaccard join: the oracle is the
    plain capped exact join at the same (k, threshold, df_cap) — the
    losslessness claim IS the oracle contract."""
    d = _t(spark, sf_dir, "documents")
    return dedup.prefix_jaccard_pairs(d, k=5, threshold=0.6, df_cap=1000)


def q_drift_psi(spark, sf_dir):
    """A11 end-to-end: per-source PSI of the n_chars histogram against
    the global distribution (epsilon-smoothed, fixed 10-bucket grid)."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.least(
        F.greatest(F.floor(F.col("n_chars") / 100.0), F.lit(0)), F.lit(9)
    ).cast("int")
    bucketed = d.select("source", bucket.alias("bucket"))
    per_sb = bucketed.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("n_sb"))
    per_s = bucketed.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    # global denominator via a window-sum over the tiny (≤10-row) bucket
    # aggregate — no second full-table scan for a scalar count
    per_b = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_b"))
    per_b = per_b.withColumn("n_total", F.sum("n_b").over(Window.partitionBy()))
    grid = (
        per_s.select("source")
        .crossJoin(spark.range(0, 10).select(F.col("id").cast("int").alias("bucket")))
    )
    eps = 1e-9
    joined = (
        grid.join(per_sb, ["source", "bucket"], "left")
        .join(per_s, "source")
        .join(per_b, "bucket", "left")
        .select(
            "source",
            "bucket",
            (F.coalesce(F.col("n_sb"), F.lit(0)) / F.col("n_s")).alias("p"),
            F.coalesce(F.col("n_b") / F.col("n_total"), F.lit(0.0)).alias("q"),
        )
    )
    term = (F.greatest(F.col("p"), F.lit(eps)) - F.greatest(F.col("q"), F.lit(eps))) * (
        F.log(F.greatest(F.col("p"), F.lit(eps)) / F.greatest(F.col("q"), F.lit(eps)))
    )
    return joined.groupBy("source").agg(F.round(F.sum(term), 4).alias("psi"))


def q_sessionization(spark, sf_dir):
    """Analytic-window sessionization: lag(ts) gap > 30 min per user
    starts a session; output sessions-per-user (common OLAP pattern)."""
    e = _t(spark, sf_dir, "events")
    ms = F.timestamp_diff(
        "MILLISECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("ts"),
    )
    w = Window.partitionBy("user_id").orderBy(ms, F.col("event_id"))
    gaps = e.select(
        "user_id",
        ms.alias("ts_ms"),
        F.lag(ms).over(w).alias("prev_ms"),
    ).withColumn(
        "new_session",
        (F.col("prev_ms").isNull() | (F.col("ts_ms") - F.col("prev_ms") > 1_800_000))
        .cast("long"),
    )
    return gaps.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_retention_cohorts(spark, sf_dir):
    """User-retention cohort triangle over events: cohort = each user's
    first activity day (epoch-day integer, TZ-free NTZ math); for each
    (cohort_day, day_offset) count the distinct users active at that
    offset.

    Scale shape: ONE user_id exchange carries both the per-user min
    (window aggregate) and the implicit (user, day) locality; the final
    (cohort_day, day_offset) distinct-count aggregates with map-side
    partial dedup. No join, no collect; the output is bounded by
    |days|^2 / 2 rows regardless of corpus size.
    """
    e = _t(spark, sf_dir, "events")
    ms = F.timestamp_diff(
        "MILLISECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("ts"),
    )
    day = F.floor(ms / F.lit(86_400_000)).cast("long")
    w = Window.partitionBy("user_id")
    d = e.select("user_id", day.alias("day")).withColumn(
        "cohort_day", F.min("day").over(w)
    )
    return (
        d.withColumn("day_offset", (F.col("day") - F.col("cohort_day")))
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def q_pivot_order_status(spark, sf_dir):
    """Pivot (portable sum-case form): order counts by priority x status."""
    o = _t(spark, sf_dir, "orders")
    agg = [
        F.sum((F.col("o_orderstatus") == s).cast("long")).alias("n_" + s.lower())
        for s in ("O", "F", "P")
    ]
    return o.groupBy("o_orderpriority").agg(*agg)


def q_rollup_revenue(spark, sf_dir):
    """ROLLUP aggregation: revenue by (returnflag, linestatus) with
    subtotals and grand total (grouping-set support)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q_exact_quantiles(spark, sf_dir):
    """Exact continuous quantiles per group (A10 stats-family, exact
    variant of the approx_percentile sketch used in the wide pass)."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("q25"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("q50"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 4).alias("q75"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95_price"),
    )


def q_dedup_cluster_labels(spark, sf_dir):
    """Near-dup clustering end-to-end: connected components (min-label)
    over the exact-jaccard pair graph at threshold 0.5."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, k=5, threshold=0.5)
    return dedup.dedup_clusters(pairs).select("doc_id", "cluster_id")


# -- approximate / non-SQL ops: rows-only driver check ----------------------

def q_lsh_candidate_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, num_hashes=8, bands=4, verify_threshold=0.5)


def q_simhash_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(d, k_shingle=3, max_hamming=8)


def q_simhash_md5_signatures(spark, sf_dir):
    """md5-variant SimHash signatures (dedup.simhash60_md5): the
    vote-and-pack logic value-checked against a DuckDB oracle that
    rebuilds each 60-bit hash digit-by-digit from the md5 hex string
    (xxhash64 isn't available in DuckDB; the production simhash_pairs
    path stays on xxhash64 and is rows-only checked)."""
    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 50) & F.col("text").isNotNull()
    )
    return d.select(
        "doc_id", dedup.simhash60_md5(F.col("text"), 3).alias("simhash60")
    )


_MIX_RATES = {"src0": 0.25, "src1": 0.5, "src2": 1.0, "src3": 1.75, "src4": 2.5}


def q_mixture_sample(spark, sf_dir):
    """Deterministic mixture sampling (operators/packing.mixture_sample,
    md5 mode): per-source keep rates incl. oversampling (2.5 = two full
    epochs + a deterministic half). Membership is a pure function of
    (doc_id, epoch), so the DuckDB oracle reproduces the exact kept set
    — the production variant swaps in xxhash64, same algebra."""
    from datatest_spark.operators import packing

    d = _t(spark, sf_dir, "documents")
    out = packing.mixture_sample(
        d, _MIX_RATES, hash_fn="md5", default_rate=0.1, seed=0
    )
    return out.select("doc_id", "source", F.col("epoch").cast("int").alias("epoch"))


def q_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing (operators/packing.pack_sequences):
    concatenate each source's docs in doc_id order, chop every 2048
    chars; each doc reports its pack, offset, and how many pack
    boundaries it spans. Pure window arithmetic — the DuckDB oracle is
    the same cumsum expressed in ANSI SQL."""
    from datatest_spark.operators import packing

    d = _t(spark, sf_dir, "documents")
    return packing.pack_sequences(
        d, length_col="n_chars", capacity=2048, part_col="source",
        order_col="doc_id",
    )


def q_stratified_sample(spark, sf_dir):
    """Exact-N deterministic per-source sample (packing.stratified_sample,
    md5 mode): hash-ranked row_number <= N, so the kept set is a pure
    function of (doc_id, seed) and the DuckDB oracle reproduces it
    row-for-row. The rank filter triggers WindowGroupLimit (partial
    top-N map-side) — the shuffle carries O(groups x N) rows at scale."""
    from datatest_spark.operators import packing

    d = _t(spark, sf_dir, "documents")
    return packing.stratified_sample(d, 7, hash_fn="md5").select(
        "doc_id", "source"
    )


def q_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle (packing.epoch_shuffle, md5 mode):
    (doc_id, shard, pos) for epoch 1 over 8 shards — one shard hash
    exchange + a rank-based per-shard sort; the order is a pure function
    of (doc_id, epoch, seed) so the oracle replays it row-for-row."""
    from datatest_spark.operators import packing

    d = _t(spark, sf_dir, "documents")
    return packing.epoch_shuffle(
        d, epoch=1, num_shards=8, hash_fn="md5"
    ).select("doc_id", "shard", "pos")


def q_length_buckets(spark, sf_dir):
    """Length-bucketed batch assignment (packing.length_bucket_batches,
    md5 mode) over n_chars: per-doc (bucket, shard, batch_id,
    batch_pos) with longest-first deterministic batches."""
    from datatest_spark.operators import packing

    d = _t(spark, sf_dir, "documents")
    return packing.length_bucket_batches(
        d, batch_size=32, length_col="n_chars", hash_fn="md5"
    )


def q_padding_audit(spark, sf_dir):
    """padding_efficiency over q_length_buckets' assignment: per-bucket
    kept vs padded tokens when each batch pads to its own max — two
    map-side-combinable aggregations."""
    from datatest_spark.operators import packing

    d = _t(spark, sf_dir, "documents")
    b = packing.length_bucket_batches(
        d, batch_size=32, length_col="n_chars", hash_fn="md5"
    )
    return packing.padding_efficiency(b)


def q_weighted_sample(spark, sf_dir):
    """Deterministic priority sampling (packing.weighted_sample, md5
    mode): keep the 10 highest weight/u rows per source, u an exact
    power-of-two-denominator uniform so the single IEEE division ranks
    identically on the JVM and in DuckDB. Same WindowGroupLimit shuffle
    shape as stratified_sample, but inclusion is weight-biased
    (n_chars-heavy docs are near-certain picks)."""
    from datatest_spark.operators import packing

    d = _t(spark, sf_dir, "documents")
    return packing.weighted_sample(
        d, 10, weight_col="n_chars", hash_fn="md5"
    ).select("doc_id", "source")


def q_contamination_hits(spark, sf_dir):
    """Benchmark decontamination (operators/decontam.contamination):
    docs with doc_id % 7 == 0 play the held-out eval set; every other
    doc sharing a 4-word shingle with it is flagged with its hit counts.
    Plan: eval shingles distinct + BROADCAST, corpus shingles explode →
    broadcast inner join → one doc_id aggregation. The corpus side never
    shuffles before the join — the 10^12-doc shape."""
    from datatest_spark.operators import decontam

    d = _t(spark, sf_dir, "documents")
    bench = d.where("doc_id % 7 = 0")
    corpus = d.where("doc_id % 7 <> 0")
    return decontam.contamination(corpus, bench, k=4).select(
        "doc_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        F.col("n_bench_docs").cast("long").alias("n_bench_docs"),
    )


def q_decontam_survivors(spark, sf_dir):
    """decontaminate() end-to-end: the corpus minus every doc flagged by
    q_contamination_hits (left_anti on doc_id; AQE downgrades the
    exchange to broadcast when the flagged set is small)."""
    from datatest_spark.operators import decontam

    d = _t(spark, sf_dir, "documents")
    bench = d.where("doc_id % 7 = 0")
    corpus = d.where("doc_id % 7 <> 0")
    return decontam.decontaminate(corpus, bench, k=4).select(
        "doc_id", "source"
    )


def q_bloom_decontam(spark, sf_dir):
    """Bloom-filter decontamination (operators/decontam.
    bloom_contamination): same eval/corpus split as
    q_contamination_hits, but the corpus-side probe is MAP-ONLY — each
    doc's shingle array is tested against a broadcast 2^20-bit bitmap
    (one-row broadcast carrier at this size) with md5 double-hashing; no
    corpus explode, no join, no exchange. The oracle reproduces the
    EXACT bit arithmetic (h1/h2 from disjoint md5 halves, 5 probes), so
    Bloom false positives are part of the checked contract, not noise."""
    from pyspark.sql import functions as F

    from datatest_spark.operators import decontam

    d = _t(spark, sf_dir, "documents")
    bench = d.where("doc_id % 7 = 0")
    corpus = d.where("doc_id % 7 <> 0")
    return decontam.bloom_contamination(
        corpus, bench, k=4, m_bits=1 << 20, n_hashes=5, hash_fn="md5"
    ).select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_hits").cast("long").alias("n_hits"),
    )


def q_bloom_survivors(spark, sf_dir):
    """Map-only Bloom decontamination survivors (operators/decontam.
    bloom_decontaminate): the complement of q_bloom_decontam computed as
    a PURE FILTER on the corpus scan — zero exchanges end-to-end."""
    from datatest_spark.operators import decontam

    d = _t(spark, sf_dir, "documents")
    bench = d.where("doc_id % 7 = 0")
    corpus = d.where("doc_id % 7 <> 0")
    return decontam.bloom_decontaminate(
        corpus, bench, k=4, m_bits=1 << 20, n_hashes=5, hash_fn="md5"
    ).select("doc_id", "source")


def q_source_signatures(spark, sf_dir):
    """TF-IDF signature terms (operators/text.source_signature_terms)
    over whitespace tokens: top-5 distinctive terms per source with
    fixed-point integer scores (tf x floor(log2((G+1)/(gdf+1))*2^20)) —
    ubiquitous terms score exactly zero on both engines."""
    from datatest_spark.operators import text as t

    d = _t(spark, sf_dir, "documents")
    toks = d.select("source", F.split(F.col("text"), " ").alias("tokens"))
    return t.source_signature_terms(toks, k=5)


def q_repetition_profile(spark, sf_dir):
    """Gopher-style per-doc 3-gram repetition signals
    (operators/text.repetition_signals): modal-n-gram fraction and
    duplicated-occurrence fraction. Explode → two map-side-combinable
    aggregations; no window, no Python."""
    from datatest_spark.operators import text as t

    d = _t(spark, sf_dir, "documents")
    return t.repetition_signals(d, n=3)


def q_token_boundary_violations(spark, sf_dir):
    """Sequence framing check (operators/checks.TokenBoundaryCheck)
    over the deterministic word-length tokenization: docs with
    doc_id % 4 != 0 get '<s> '/' </s>' framing (BOS token = len('<s>')
    = 3, EOS = 4); every unframed doc must surface as an invalid row
    with its first..last token ids. Row-level probe = two
    try_element_at calls, fusable into the suite's single scan."""
    from datatest_spark.operators.checks import TokenBoundaryCheck
    from datatest_spark.operators.stats import partition_key_col

    d = _t(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 4 != 0,
            F.concat(F.lit("<s> "), F.col("text"), F.lit(" </s>")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = seeded.select(
        "doc_id",
        F.transform(
            F.split(F.col("text"), " "), lambda w: F.length(w)
        ).alias("tokens"),
        partition_key_col(["source"]).alias("partition_key"),
    )
    check = TokenBoundaryCheck(bos_id=3, eos_id=4)
    return check.violations(toks).select("doc_id", "value", "expected")


def q_token_run_quality(spark, sf_dir):
    """Repeated-token run stats (operators/text.token_run_stats) over a
    deterministic tokenization (token id = word length, so the DuckDB
    oracle reproduces it exactly): longest equal-consecutive-token run
    per sequence via ONE F.aggregate pass — map-only, no explode, no
    exchange before the final projection. The gaps-and-islands window
    the SQL oracle needs is exactly the shuffle this plan avoids."""
    from datatest_spark.operators import text as t

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.transform(
            F.split(F.col("text"), " "), lambda w: F.length(w)
        ).alias("tokens"),
    )
    r = t.token_run_stats(toks)
    return r.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        F.col("max_run").cast("long").alias("max_run"),
        "max_run_frac",
    )


def q_vocab_topk(spark, sf_dir):
    """Per-source token-frequency audit (operators/text.vocab_topk) over
    the deterministic word-length tokenization: top-5 token ids per
    source, ties by token asc. Explode → map-side-combinable (source,
    token) agg → rank window with WindowGroupLimit partial top-k."""
    from datatest_spark.operators import text as t

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.transform(
            F.split(F.col("text"), " "), lambda w: F.length(w)
        ).alias("tokens"),
    )
    r = t.vocab_topk(toks, k=5)
    return r.select(
        F.col("group").alias("source"),
        F.col("token").cast("long").alias("token"),
        F.col("n").cast("long").alias("n"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ks_drift(spark, sf_dir):
    """Binned two-sample KS per source vs src0 baseline
    (operators/drift.ks_from_histogram) on n_chars: dense bucket grid,
    integer cumulative counts, one division — so DuckDB reproduces the
    doubles exactly. The scale-safe KS (exact KS needs a global sort)."""
    from datatest_spark.operators import drift

    d = _t(spark, sf_dir, "documents")
    return drift.ks_from_histogram(
        d, "n_chars", "source", "src0", lo=0.0, hi=1000.0, nbins=10
    ).select(F.col("group").alias("source"), "ks")


def q_chi2_drift(spark, sf_dir):
    """Pearson chi-square drift per source vs src0 baseline
    (operators/drift.chi2_from_histogram) on n_chars: expected counts
    scale the baseline histogram to each group's total; terms are pure
    IEEE multiply/divide over integer counts summed in bucket order, so
    DuckDB reproduces the doubles bit-for-bit. Completes the drift
    family: KL/PSI (mass-weighted), KS (worst boundary), chi2 (testable
    null distribution)."""
    from datatest_spark.operators import drift

    d = _t(spark, sf_dir, "documents")
    return drift.chi2_from_histogram(
        d, "n_chars", "source", "src0", lo=0.0, hi=1000.0, nbins=10
    ).select(F.col("group").alias("source"), "chi2", "dof", "novel_buckets")


def q_js_drift(spark, sf_dir):
    """Bounded symmetric Jensen-Shannon drift per source vs src0
    baseline (operators/drift.js_from_histogram) on n_chars: each
    term's mixture (p+q)/2 is positive wherever either side has mass,
    so novel buckets contribute finite terms with NO epsilon floor
    (unlike KL/PSI) and the statistic is capped at ln 2 — one alarm
    threshold works for every column. Terms are a fixed IEEE op
    sequence over exact integer-count ratios, summed in bucket order,
    so DuckDB reproduces the doubles bit-for-bit."""
    from datatest_spark.operators import drift

    d = _t(spark, sf_dir, "documents")
    return drift.js_from_histogram(
        d, "n_chars", "source", "src0", lo=0.0, hi=1000.0, nbins=10
    ).select(F.col("group").alias("source"), "js")


def q_spearman_drift(spark, sf_dir):
    """Ordinal drift per source vs src0
    (operators/drift.spearman_rank_drift): tie-corrected Spearman rho of
    word frequencies over each (source, baseline) SHARED vocabulary — a
    tokenizer swap or template takeover reorders frequency ranks long
    before PSI-visible mass moves. Doubled average ranks are exact
    BIGINTs and the moment math reuses group_corr's integer-sum
    discipline, so DuckDB reproduces the doubles bit-for-bit."""
    from datatest_spark.operators import drift

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    return drift.spearman_rank_drift(toks, "token", "source", "src0").select(
        F.col("group").alias("source"), "n_shared", "rho"
    )


def q_psi_equidepth(spark, sf_dir):
    """Heavy-tail-proof PSI (operators/drift.psi_equidepth): bucket
    boundaries are the BASELINE source's own exact deciles, so every
    bin stays informative when a fixed-width grid would bury 95% of
    the mass in one bin. Map-only bucket assignment (array filter in
    codegen against ONE broadcast boundary row); PSI terms summed in
    bucket order for bit-exact DuckDB parity."""
    from datatest_spark.operators import drift

    d = _t(spark, sf_dir, "documents")
    return drift.psi_equidepth(d, "n_chars", "source", "src0", nbins=10).select(
        F.col("group").alias("source"), "psi"
    )


def q_robust_location(spark, sf_dir):
    """Per-source robust-location triple
    (operators/stats.robust_location): mean vs 5%-trimmed vs winsorized
    mean of n_chars — mean >> trimmed_mean means a handful of extreme
    docs, all three moving together means a genuine level shift.
    Exact per-group quantiles (percentile ≡ quantile_cont) and
    fixed-point BIGINT sums make every mean parallelism-invariant and
    oracle-exact."""
    from datatest_spark.operators.stats import robust_location

    d = _t(spark, sf_dir, "documents")
    return robust_location(d, "n_chars").select(
        F.col("group").alias("source"), "n", "lo", "hi", "mean",
        "trimmed_mean", "winsorized_mean", "n_trimmed",
    )


def q_emd_drift(spark, sf_dir):
    """Binned Wasserstein-1 (earth-mover) drift per source vs src0
    baseline (operators/drift.emd_from_histogram) on n_chars: integer
    cumulative counts, one division per CDF value, |difference| terms
    summed in bucket order and scaled by bin width once — so DuckDB
    reproduces the doubles bit-for-bit. Completes the drift family with
    the lens that scales with HOW FAR mass moved (KL/PSI: mass-weighted;
    KS: worst boundary; chi2: testable null)."""
    from datatest_spark.operators import drift

    d = _t(spark, sf_dir, "documents")
    return drift.emd_from_histogram(
        d, "n_chars", "source", "src0", lo=0.0, hi=1000.0, nbins=10
    ).select(F.col("group").alias("source"), "emd")


def q_vocab_overlap(spark, sf_dir):
    """Source-pair vocabulary Jaccard/containment
    (operators/text.vocab_overlap) over whitespace words: corpus
    collapses to distinct (source, token) in ONE exchange, then
    everything is vocabulary-sized; full pair matrix from a broadcast
    cross of the |sources|-row size table (zero-overlap pairs
    included)."""
    from datatest_spark.operators import text

    d = _t(spark, sf_dir, "documents")
    toks = d.select("source", F.split(F.col("text"), " ").alias("tokens"))
    return text.vocab_overlap(toks)


def q_shard_manifest(spark, sf_dir):
    """Deterministic export-shard manifest
    (operators/packing.shard_manifest): hashed shard assignment (pure
    function of id — stable under re-runs and appends), per-shard row
    count / payload length / ORDER-INSENSITIVE bit_xor content checksum.
    md5 oracle variant; production uses xxhash64. The verification
    artifact a 100 TB export ships with."""
    from datatest_spark.operators import packing

    d = _t(spark, sf_dir, "documents")
    return packing.shard_manifest(
        d, num_shards=8, length_col="n_chars", hash_fn="md5"
    )


def q_fertility(spark, sf_dir):
    """Tokenizer fertility per (source, lang)
    (operators/text.fertility_profile): ratio-of-exact-BIGINT-sums
    (corpus-level tokens/word and chars/token — not mean-of-ratios),
    one map-side-combinable agg. The tokenizer-mismatch alarm for
    multilingual slices."""
    from datatest_spark.operators import text

    d = _t(spark, sf_dir, "documents")
    return text.fertility_profile(d)


def q_readability(spark, sf_dir):
    """Per-doc Flesch Reading Ease + Flesch-Kincaid grade
    (operators/text.readability_profile): three RE2∩Java regexp_count
    integers, single divisions, published-constant score expressions in
    one fixed IEEE op order — bit-exact vs DuckDB. MAP-ONLY scan."""
    from datatest_spark.operators import text

    d = _t(spark, sf_dir, "documents")
    return text.readability_profile(d)


def q_fd_violations(spark, sf_dir):
    """Approximate functional-dependency audit (operators/stats.fd_audit)
    for the claimed FD lang -> source over documents: per lang, the
    distinct source count, majority source, and the Kivinen-Mannila g3
    violation count (rows off the majority). ONE map-side-combinable
    (det, dep) count + a window over the tiny aggregated frame."""
    from datatest_spark.operators import stats

    d = _t(spark, sf_dir, "documents")
    return stats.fd_audit(d, "lang", "source")


def q_benford_digits(spark, sf_dir):
    """First-significant-digit Benford conformance profile
    (operators/stats.benford_profile) of l_extendedprice per
    l_returnflag: fixed-point cents first, leading digit from the
    INTEGER's decimal string (never float log10/pow), observed vs
    log10(1+1/d) expected fractions. Map-only extraction + one
    |groups|x9-key agg."""
    from datatest_spark.operators import stats

    l = _t(spark, sf_dir, "lineitem")
    return stats.benford_profile(
        l, "l_extendedprice", "l_returnflag"
    ).withColumnRenamed("group", "l_returnflag")


def q_null_pattern(spark, sf_dir):
    """Missingness-shape profile (operators/stats.null_pattern_profile):
    rows counted by their joint NULL bitmap over (text, lang, n_chars)
    per source — the check that separates 'missing at random' from
    'fields missing together'. Map-only bitmap + one tiny-key agg; the
    clean testdata yields exactly one '000' row per source, which is
    the assertion a conformance suite makes."""
    from datatest_spark.operators import stats

    d = _t(spark, sf_dir, "documents")
    return stats.null_pattern_profile(
        d, ["text", "lang", "n_chars"], "source"
    ).withColumnRenamed("group", "source")


def q_corr_length_words(spark, sf_dir):
    """Per-source Pearson correlation between n_chars and whitespace
    word count (operators/stats.group_corr): fixed-point integer sums
    (associative, parallelism-invariant) with the final r/slope/
    intercept as a fixed IEEE op sequence mirrored verbatim in the
    oracle — unlike built-in corr(), whose streaming doubles depend on
    partition order. The audit for 'is this signal just length?'."""
    from datatest_spark.operators import stats, text

    d = _t(spark, sf_dir, "documents")
    return stats.group_corr(
        d, "n_chars", text.token_count("text"), "source"
    ).select(F.col("group").alias("source"), "n", "corr", "slope", "intercept")


def q_token_entropy(spark, sf_dir):
    """Per-sequence unigram entropy + type-token ratio
    (operators/text.token_entropy) over the deterministic word-length
    tokenization: sort the token array, ONE F.aggregate pass turns
    equal-token runs into counts — map-only, no explode, no exchange.
    The sorted pass fixes the fp summation order to ascending token id,
    which the oracle mirrors with SUM(c*log2(c) ORDER BY tok)."""
    from datatest_spark.operators import text as t

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.transform(
            F.split(F.col("text"), " "), lambda w: F.length(w)
        ).alias("tokens"),
    )
    return t.token_entropy(toks)


def q_source_shares(spark, sf_dir):
    """Corpus mixture audit (operators/stats.group_shares): per-source
    row share, cumulative share and rank over documents. Integer counts
    with single divisions; the rank window runs on the already-
    aggregated |sources| rows."""
    from datatest_spark.operators.stats import group_shares

    d = _t(spark, sf_dir, "documents")
    return group_shares(d, "source", n_alias="n_docs")


def q_source_concentration(spark, sf_dir):
    """Scalar mixture-concentration alarms
    (operators/stats.concentration_indices): Gini, HHI and top-source
    share over per-source document counts — the thresholdable
    companions to group_shares' per-source breakdown. Exact integer
    rank products; the squared-share sum runs in rank order on both
    engines, so DuckDB reproduces the doubles bit-for-bit."""
    from datatest_spark.operators.stats import concentration_indices

    d = _t(spark, sf_dir, "documents")
    return concentration_indices(d, "source")


def q_pii_scan(spark, sf_dir):
    """PII audit (operators/text.pii_scan): per-doc email/phone/ipv4
    match counts + has_pii flag — map-only regexp_count inside codegen.
    The synthetic corpus contains no natural PII, so the query derives
    its input by appending a deterministic contact line to every 10th
    doc (same doc_id-keyed derivation trick as the tokenization
    queries); patterns are RE2 ∩ java.util.regex so DuckDB counts the
    identical matches."""
    from datatest_spark.operators import text as t

    d = _t(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@example.com or 555-867-5309 from 10.0.0."),
                (F.col("doc_id") % 256).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return t.pii_scan(seeded)


def q_pii_scrub(spark, sf_dir):
    """PII redaction (operators/text.pii_scrub): the scrub companion to
    q_pii_scan over the same injected-PII derivation — chained
    regexp_replace in codegen, map-only. The scrubbed text is md5-hashed
    in the output so the value compare covers every redacted byte
    without hauling full documents through the hash step."""
    from datatest_spark.operators import text as t

    d = _t(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@example.com or 555-867-5309 from 10.0.0."),
                (F.col("doc_id") % 256).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return t.pii_scrub(seeded).select(
        "doc_id", F.md5("text").alias("scrub_hash"), "n_redactions"
    )


def q_c4_line_filter(spark, sf_dir):
    """C4-style line cleaning (operators/text.c4_line_filter): the
    corpus has no natural line structure, so the query appends a
    deterministic three-line tail (a lorem-ipsum brace line and a
    properly terminated sentence) to every doc; the filter must keep
    exactly the clean tail line and report per-doc line accounting. The
    rebuilt text is md5-hashed for a compact value compare."""
    from datatest_spark.operators import text as t

    d = _t(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nlorem ipsum junk {"),
            F.lit("\nThis sentence is properly terminated."),
        ).alias("text"),
    )
    return t.c4_line_filter(seeded).select(
        "doc_id",
        F.md5("text").alias("filtered_hash"),
        "n_lines",
        "n_kept",
    )


def q_mojibake_scan(spark, sf_dir):
    """Encoding-damage audit (operators/text.mojibake_scan): every 9th
    doc gets a deterministic injection of two replacement characters and
    one control byte; counts, fraction and the bad_encoding verdict must
    match the oracle's identical regex arithmetic."""
    from datatest_spark.operators import text as t

    d = _t(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.lit(" damaged �� ctrl \x01 end")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return t.mojibake_scan(seeded, max_bad_frac=0.002)


def q_lang_mix(spark, sf_dir):
    """Per-paragraph language composition (operators/text.
    lang_mix_profile): every 5th doc gets a Spanish paragraph appended
    (every 10th a second one), so the profile must flag them mixed with
    the right majority under the deterministic tie-break. MAP-ONLY:
    split + per-paragraph lang_id + array-arithmetic majority vote."""
    from datatest_spark.operators import text as t

    d = _t(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\nel la de que y en la casa"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 10 == 0,
                F.lit("\nque y el de la y que"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return t.lang_mix_profile(seeded)


def q_unigram_logloss(spark, sf_dir):
    """CCNet-style unigram LM quality score
    (operators/text.unigram_logloss): per-doc cross-entropy in
    bits/token against a corpus unigram model over the deterministic
    word-length tokenization. The model stores FIXED-POINT log-probs
    (floor(log2(c/T)*2^20) as bigint), so per-doc sums are associative
    integers — map-side combinable at scale AND bit-identical to the
    single-threaded DuckDB oracle; scoring itself is map-only
    (broadcast model map + one F.aggregate pass, no explode)."""
    from datatest_spark.operators import text as t

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.transform(
            F.split(F.col("text"), " "), lambda w: F.length(w)
        ).alias("tokens"),
    )
    return t.unigram_logloss(toks)


def q_surprisal_profile(spark, sf_dir):
    """Surprisal-SHAPE filter (operators/text.unigram_surprisal_profile):
    mean/std/max of per-token surprisal under the corpus unigram model —
    catches boilerplate-stitched-to-garbage docs whose MEAN logloss
    looks normal. Same map-only carrier as unigram_logloss; the extra
    second moment is an exact DECIMAL(38,0) integer sum (HUGEINT in the
    oracle), closed before any double arithmetic, in a pinned operation
    order."""
    from datatest_spark.operators import text as t

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.transform(
            F.split(F.col("text"), " "), lambda w: F.length(w)
        ).alias("tokens"),
    )
    return t.unigram_surprisal_profile(toks)


def q_surprisal_spans(spark, sf_dir):
    """Garbage-LOCATOR (operators/text.surprisal_spans): maximal runs
    of >= 2 consecutive tokens at >= 3.5 bits unigram surprisal, in the
    same 0-based [start, end) span convention scrub_token_spans cuts.
    The threshold compares in fixed point (lp <= floor(-3.5*2^20) =
    -3670016 — an integer both engines evaluate identically); run
    detection is an in-row F.aggregate fold (gaps-and-islands without a
    window) vs the oracle's classic pos - ROW_NUMBER islands."""
    from datatest_spark.operators.text import surprisal_spans

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.transform(
            F.split(F.col("text"), " "), lambda w: F.length(w)
        ).alias("tokens"),
    )
    return surprisal_spans(toks, min_bits=3.5, min_len=2)


def q_quality_gate(spark, sf_dir):
    """End-to-end quality filter composition — the shape of a real
    training-data cleaning pass: the two MAP-ONLY gates (PII scan,
    token-run stats) CHAIN through their passthrough columns into one
    scan projection — no doc_id self-join between them; only the Gopher
    repetition signals (inherently explode + agg) join back. Survivors
    = docs with max_run_frac <= 0.1, dup_ngram_frac <= 0.6, no PII, and
    20..200 tokens; returned with their gate signals so a downstream
    mixture sampler can re-weight on them."""
    from datatest_spark.operators import text as t

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "text",
        F.transform(
            F.split(F.col("text"), " "), lambda w: F.length(w)
        ).alias("tokens"),
    )
    signals = t.token_run_stats(
        t.pii_scan(toks, passthrough=("tokens",)),
        passthrough=("has_pii",),
    )
    rep = t.repetition_signals(d, n=3)
    gated = signals.join(rep, "doc_id").where(
        (F.col("max_run_frac") <= 0.1)
        & (F.col("dup_ngram_frac") <= 0.6)
        & (~F.col("has_pii"))
        & (F.col("n_tokens").between(20, 200))
    )
    return gated.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "max_run_frac",
        "dup_ngram_frac",
    )


def q_token_contamination(spark, sf_dir):
    """Decontamination over TOKEN-ID arrays
    (operators/decontam.token_contamination) — the GPT-3 overlap rule
    applied to the north-star payload directly: k=4 token shingles of
    the word-length tokenization, benchmark = every 7th doc, portable
    string shingles (hashed=False) so DuckDB rebuilds them exactly;
    the production default hashes shingles to xxhash64 bigints (8B per
    broadcast entry)."""
    from datatest_spark.operators import decontam

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.transform(
            F.split(F.col("text"), " "), lambda w: F.length(w)
        ).alias("tokens"),
    )
    bench = toks.where("doc_id % 7 = 0")
    corpus = toks.where("doc_id % 7 <> 0")
    return decontam.token_contamination(
        corpus, bench, k=4, min_hits=1, hashed=False
    )


def q_duplicate_spans(spark, sf_dir):
    """Exact-substring dedup spans (operators/dedup.duplicate_spans):
    cross-doc repeated k=8 token windows over the word-length
    tokenization, merged into per-doc cut spans (gaps-and-islands).
    hashed=False keeps portable string shingles for the oracle; the
    production default groups on xxhash64 bigints."""
    from datatest_spark.operators.dedup import duplicate_spans

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.transform(
            F.split(F.col("text"), " "), lambda w: F.length(w)
        ).alias("tokens"),
    )
    return duplicate_spans(toks, k=8, min_docs=2, hashed=False)


def q_scrub_token_spans(spark, sf_dir):
    """Span removal end-to-end (operators/dedup.scrub_token_spans over
    duplicate_spans): the word-length tokenization's duplicated k=8
    spans are cut from each doc; the rebuilt arrays are md5-hashed (as
    comma-joined strings) for a compact value compare. One pass is not
    a fixed point in general (cut junctions can splice new duplicated
    k-grams — property-tested); iterate scrub -> scan, or pass
    sep_token, when that matters."""
    from datatest_spark.operators.dedup import (
        duplicate_spans, scrub_token_spans,
    )

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.transform(
            F.split(F.col("text"), " "), lambda w: F.length(w)
        ).alias("tokens"),
    )
    spans = duplicate_spans(toks, k=8, min_docs=2, hashed=False)
    out = scrub_token_spans(toks, spans)
    return out.select(
        "doc_id",
        # the frame's tokens column is already scrubbed — report the
        # ORIGINAL length (scrubbed + removed) like the oracle does
        (F.size("tokens") + F.col("n_removed")).alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(F.col("tokens"), lambda t: t.cast("string")),
                ",",
            )
        ).alias("scrub_hash"),
    )


def q_order_violations(spark, sf_dir):
    """O1 RequiredOrder (ref: datatest RequiredOrder / assertValid order
    semantics): positional sequence compare of region names ordered by
    r_regionkey vs an expected list with two planted mismatches ->
    Extra((index, actual)) / Missing((index, expected)) rows. The
    engine emits the (index, value) pair as a JSON payload in the core
    violation schema; re-typed here into (kind, idx, val) columns so
    the cross-engine value compare is format-free."""
    from datatest_spark.requirements import RequiredOrder

    r = _t(spark, sf_dir, "region")
    expected = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MOONBASE",
                "ATLANTIS"]
    v = RequiredOrder(expected, order_by="r_regionkey").violations(
        r.select("r_regionkey", "r_name"), columns=["r_name"]
    )
    return v.select(
        "kind",
        F.get_json_object("value", "$.index").cast("int").alias("idx"),
        F.get_json_object("value", "$.value").alias("val"),
    )


def q_accepted_count_budget(spark, sf_dir):
    """T10 accepted.count(n) distributed: a RequiredInterval(lower=0)
    pass over customer balances yields Deviation rows; a global budget
    of 100 absorbs the first 100 in the engine's stable order
    (kind, group_key, value, expected, deviation, doc_id — C5) and the
    remainder surfaces. Exercises AcceptedCount._apply_budgeted's
    row_number-over-stable-order plan end-to-end."""
    from datatest_spark.acceptances import accepted
    from datatest_spark.requirements import RequiredInterval

    c = _t(spark, sf_dir, "customer")
    v = RequiredInterval(lower=0.0).violations(
        c.select("c_custkey", "c_acctbal"),
        columns=["c_acctbal"],
        id_col="c_custkey",
    )
    out = accepted.count(100).apply(v)
    return out.select(
        "kind",
        "doc_id",
        F.col("value").cast("double").alias("value"),
        F.round("deviation", 4).alias("deviation"),
    )


def q_bigram_logloss(spark, sf_dir):
    """n=2 LM fluency filter (operators/text.bigram_logloss): per-doc
    bigram cross-entropy over word tokens against the corpus's own
    conditional bigram model. Join-based scoring (the model is corpus-
    sized, never broadcast by construction); fixed-point bigint sums
    make the result parallelism-invariant and oracle-exact."""
    from datatest_spark.operators.text import bigram_logloss

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("tokens"))
    return bigram_logloss(toks)


def q_trigram_logloss(spark, sf_dir):
    """n=3 LM fluency filter with STUPID BACKOFF (operators/
    text.trigram_backoff_logloss, Brants et al. 2007): the reference
    corpus is the deterministic md5-half of documents (first hex digit
    < '8'), so the OTHER half genuinely exercises the bigram/unigram
    backoff paths the self-scoring form never hits. All fixed-point:
    level log-probs are floor-scaled bigints and the backoff penalty is
    the driver-computed INTEGER floor(log2(0.4)*2^20) = -1386143, so
    Spark and the oracle add identical integers. Fallback joins run on
    FILTERED trigram-miss rows only (plan-pinned)."""
    from datatest_spark.operators.text import trigram_backoff_logloss

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("tokens"))
    ref = toks.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8"
    )
    return trigram_backoff_logloss(toks, ref)


def q_volume_anomalies(spark, sf_dir):
    """Ingest-volume monitoring BY COMPOSITION: per-(event_type, day)
    row counts, then operators/stats.mad_outliers over the daily-count
    frame — days whose volume robust-z exceeds 2 vs their type's median
    day. The anomaly stage runs on the |types x days| aggregate, so the
    corpus pays one pre-combined count; the composition itself is the
    point (library operators chain on aggregates unchanged)."""
    from datatest_spark.operators.stats import mad_outliers

    e = _t(spark, sf_dir, "events")
    ms = F.timestamp_diff(
        "MILLISECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("ts"),
    )
    day = F.floor(ms / F.lit(86_400_000)).cast("long")
    daily = e.groupBy(
        F.col("event_type"), day.alias("day")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    out = mad_outliers(
        daily, "n_rows", group_col="event_type", id_col="day",
        threshold=2.0, exact=True,
    )
    return out.select(
        "day", "event_type",
        F.col("value").cast("long").alias("n_rows"),
        "med", "mad", "robust_z",
    )


def q_series_autocorr(spark, sf_dir):
    """Lag-k autocorrelation of daily ingest volume per event type
    (operators/stats.series_autocorr over the same per-(event_type,
    day) counts as q:volume_anomalies): organic traffic carries
    periodic structure; injected constant-rate feeds and replayed
    windows flatten it before any single day trips a threshold."""
    from datatest_spark.operators.stats import series_autocorr

    e = _t(spark, sf_dir, "events")
    ms = F.timestamp_diff(
        "MILLISECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("ts"),
    )
    day = F.floor(ms / F.lit(86_400_000)).cast("long")
    daily = e.groupBy(
        F.col("event_type"), day.alias("day")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    return series_autocorr(
        daily, "n_rows", "day", group_col="event_type", lags=(1, 2, 7)
    )


def q_schema_drift(spark, sf_dir):
    """Snapshot-to-snapshot schema drift (operators/checks.schema_drift):
    dropped column, int->float type widening, added all-derived column —
    statuses + per-column null-rate movement from one wide agg per side.
    The 'new' snapshot is a deterministic transformation of documents
    (drop lang, widen n_chars, add quality_score) so the oracle can
    rebuild it in SQL."""
    from datatest_spark.operators.checks import schema_drift

    d = _t(spark, sf_dir, "documents")
    new = (
        d.drop("lang")
        .withColumn("n_chars", F.col("n_chars").cast("double"))
        .withColumn(
            "quality_score", F.col("n_chars").cast("double") / F.lit(1000.0)
        )
    )
    return schema_drift(d, new)


def q_compression_profile(spark, sf_dir):
    """Per-source pooled zlib compression profile
    (operators/text.compression_profile): the information-density
    quality gate — templated boilerplate collapses under DEFLATE long
    before n-gram heuristics name it. DEFLATE has no SQL oracle, so
    this is a documented rows-only entry (Arrow kernel); semantics
    pinned by construction tests."""
    from datatest_spark.operators.text import compression_profile

    d = _t(spark, sf_dir, "documents")
    return compression_profile(d)


def q_band_migration(spark, sf_dir):
    """Quality-band transition matrix between two snapshots
    (operators/stats.band_migration, exact=True NTILE form — the
    approx-boundary form is the documented 10^12 default): re-scoring
    shows as off-diagonal mass, one-sided filters as whole-band
    entries/exits. The 'new' snapshot is a deterministic perturbation
    (drop doc_id%17, double score on doc_id%5, enter shifted copies of
    doc_id%13) so the oracle rebuilds it in SQL."""
    from datatest_spark.operators.stats import band_migration

    d = _t(spark, sf_dir, "documents")
    old = d.select("doc_id", "source", F.col("n_chars").alias("score"))
    base_new = d.where(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 5 == 0, F.col("n_chars") * 2)
        .otherwise(F.col("n_chars"))
        .alias("score"),
    )
    entered = d.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + F.lit(1000000000)).alias("doc_id"),
        "source",
        F.col("n_chars").alias("score"),
    )
    new = base_new.unionByName(entered)
    return band_migration(old, new, "score", n_bands=4, exact=True)


def q_inspection_sample(spark, sf_dir):
    """Deterministic per-source eyeball sample
    (operators/packing.inspection_sample): the 5 min-hash docs per
    source — reproducible across runs/engines/partitionings and stable
    under appends, unlike df.sample or LIMIT. md5 variant for the
    oracle; executed as a WindowGroupLimit (plan-pinned), so the
    shuffle carries ~k rows per partition-group, never the corpus."""
    from datatest_spark.operators.packing import inspection_sample

    d = _t(spark, sf_dir, "documents")
    return inspection_sample(d, k=5, hash_fn="md5").select(
        "source", "doc_id", "n_chars", "rank"
    )


def q_cusum_volume(spark, sf_dir):
    """Sequential level-shift detection on daily ingest volumes
    (operators/stats.cusum_changepoints over the same per-(event_type,
    day) counts as q:volume_anomalies): Page's CUSUM re-expressed as
    running-sum minus running-min, so a sub-robust-z mean shift that
    mad_outliers never flags still accumulates to a decision-interval
    crossing. Exact integer moments; both cumulative windows run in
    explicit ROWS order, so DuckDB reproduces every double."""
    from datatest_spark.operators.stats import cusum_changepoints

    e = _t(spark, sf_dir, "events")
    ms = F.timestamp_diff(
        "MILLISECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("ts"),
    )
    day = F.floor(ms / F.lit(86_400_000)).cast("long")
    daily = e.groupBy(F.col("event_type"), day.alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    return cusum_changepoints(
        daily, "n_rows", "day", group_col="event_type"
    ).select(
        F.col("group").alias("event_type"),
        F.col("t").alias("day"),
        F.col("value").cast("long").alias("n_rows"),
        "cusum_pos",
        "cusum_neg",
        "is_change",
    )


def q_sample_rate_audit(spark, sf_dir):
    """Post-hoc sampler validation (operators/packing.sample_rate_audit):
    run the deterministic md5 mixture sampler at sub-1.0 rates, then
    audit the output against the requested rates — exact binomial z per
    source, verdict at |z| > 4. Two tiny counts + a |groups| join; the
    oracle recomputes the kept set AND the audit."""
    from datatest_spark.operators import packing

    d = _t(spark, sf_dir, "documents")
    rates = {"src0": 0.25, "src1": 0.5}
    sampled = packing.mixture_sample(
        d, rates, hash_fn="md5", default_rate=0.1, seed=0
    )
    # the audit mirrors the sampler call EXACTLY (same dict + same
    # default), so a new source in testdata audits against 0.1 on both
    # engines instead of drifting to the p=1 fallback
    return packing.sample_rate_audit(d, sampled, rates, default_rate=0.1)


def q_ngram_novelty(spark, sf_dir):
    """Snapshot content novelty (operators/dedup.ngram_novelty): per
    source, the fraction of the odd-doc_id snapshot's distinct
    5-shingles never seen in the even-doc_id snapshot, plus
    mostly-novel doc counts — the 'did the refresh add new CONTENT or
    re-crawl the same text' audit. Both sides reduce to distinct
    shingle frames before the join."""
    from datatest_spark.operators.dedup import ngram_novelty

    d = _t(spark, sf_dir, "documents")
    new = d.where(F.col("doc_id") % 2 == 1)
    old = d.where(F.col("doc_id") % 2 == 0)
    return ngram_novelty(new, old).withColumnRenamed("group", "source")


def q_mwu_drift(spark, sf_dir):
    """Binned Mann-Whitney rank-sum drift per source vs src0
    (operators/drift.mwu_from_histogram): the location-sensitive,
    DIRECTIONAL drift lens (sign of z = shift direction), tie-corrected.
    Double products (bigint would overflow at 10^12 counts), bucket-
    ordered sums — bit-exact vs the oracle."""
    from datatest_spark.operators.drift import mwu_from_histogram

    d = _t(spark, sf_dir, "documents")
    return mwu_from_histogram(
        d, "n_chars", "source", "src0", 0.0, 1000.0, 10
    ).withColumnRenamed("group", "source")


def q_oov_profile(spark, sf_dir):
    """Per-source OOV profile (operators/text.oov_profile) against the
    corpus's own frequency->=5 closed vocabulary: occurrence- and
    type-level OOV rates — the tokenizer/vocab-mismatch gate. Corpus
    pre-aggregates to (group, token) before the one broadcast vocab
    join."""
    from datatest_spark.operators.text import oov_profile

    d = _t(spark, sf_dir, "documents")
    toks = d.select("source", F.split(F.col("text"), " ").alias("tokens"))
    vocab = (
        toks.select(F.explode("tokens").alias("token"))
        .where(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 5)
        .select("token")
    )
    return oov_profile(toks, vocab).withColumnRenamed("group", "source")


def q_position_entropy(spark, sf_dir):
    """Per-position token entropy over the first 16 word positions
    (operators/text.position_entropy) — the templated-prefix detector.
    Map-only slice bounds the explode at 16 rows/doc; one (pos, token)
    pre-combined count; fixed-point entropy terms."""
    from datatest_spark.operators.text import position_entropy

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.split(F.col("text"), " ").alias("tokens"))
    return position_entropy(toks, max_pos=16)


def q_association(spark, sf_dir):
    """source x lang association (operators/stats.association_audit):
    chi-square independence, mutual information in bits, Cramér's V —
    one (a, b) pre-combined count, everything else on the |A| x |B|
    cell frame; fixed-point bigint term sums, double-cast products."""
    from datatest_spark.operators.stats import association_audit

    d = _t(spark, sf_dir, "documents")
    return association_audit(d, "source", "lang")


def q_bootstrap_ci(spark, sf_dir):
    """Per-source mean n_chars with a deterministic Poisson-bootstrap
    95% CI (operators/stats.bootstrap_ci): resample b's weight for a
    row is Poisson(1) inverse-CDF'd from md5(id#b#seed) — map-only
    reweighting, |groups| x B shuffle keys, fixed-point sums; the
    DuckDB oracle reproduces every interval bit-for-bit."""
    from datatest_spark.operators.stats import bootstrap_ci

    d = _t(spark, sf_dir, "documents")
    return bootstrap_ci(
        d, "n_chars", "source", n_boot=64, alpha=0.05, seed=0
    ).withColumnRenamed("group", "source")


def q_pmi_collocations(spark, sf_dir):
    """Top-k PMI collocations (operators/text.pmi_collocations) over
    word tokens: the lexical-association audit for boilerplate /
    templated spam. Fixed-point log2 with double-cast products (int64
    overflow starts at ~10^12 pairs); deterministic (pmi, t1, t2)
    rank; WindowGroupLimit top-k."""
    from datatest_spark.operators.text import pmi_collocations

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.split(F.col("text"), " ").alias("tokens"))
    return pmi_collocations(toks, top_k=40, min_count=3)


def q_heavy_hitters(spark, sf_dir):
    """Per-source phi-heavy-hitter tokens (operators/stats.heavy_hitters,
    prefilter path): hash-bucket counts bound the exchange at
    |groups| x n_buckets keys, exact counting only inside buckets that
    clear the threshold — zero false negatives by the bucket >= member
    bound, collisions discarded by the exact phase. Oracle runs the
    direct form; outputs are identical by construction."""
    from datatest_spark.operators.stats import heavy_hitters

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    return heavy_hitters(
        toks, "tok", "source", phi=0.01, prefilter=True, n_buckets=4096
    ).withColumnRenamed("group", "source")


def q_context_length_profile(spark, sf_dir):
    """Pre-packing context-window diagnostics
    (operators/stats.context_length_profile): per-source length
    percentiles, overflow share past capacity, and the concat-and-chop
    pack floor."""
    from datatest_spark.operators.stats import context_length_profile

    d = _t(spark, sf_dir, "documents")
    return context_length_profile(
        d, length_col="n_chars", group_col="source", capacity=512
    )


def q_mixture_plan(spark, sf_dir):
    """Token-budget mixture solver (operators/packing.mixture_plan):
    per-source sampling rates hitting target token counts; rates > 1
    are oversampling epochs consumable by mixture_sample."""
    from datatest_spark.operators.packing import mixture_plan

    d = _t(spark, sf_dir, "documents")
    return mixture_plan(
        d,
        {"src0": 4000, "src1": 20000, "src2": 0},
        length_col="n_chars",
        source_col="source",
    )


def q_self_repetition_spans(spark, sf_dir):
    """Intra-document exact-substring repetition
    (operators/dedup.self_repetition_spans): merged cut spans of k=5
    windows whose k-gram already occurred EARLIER in the same doc
    (first occurrence survives). hashed=False keeps portable string
    shingles for the oracle."""
    from datatest_spark.operators.dedup import self_repetition_spans

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.transform(
            F.split(F.col("text"), " "), lambda w: F.length(w)
        ).alias("tokens"),
    )
    return self_repetition_spans(toks, k=5, hashed=False)


def q_length_bound_violations(spark, sf_dir):
    """Row-level context-window conformance
    (operators/checks.LengthBoundCheck): documents whose n_chars falls
    outside [150, 400] surface as Deviations against the violated bound,
    nulls as Invalid; partition-attributed via the suite's
    partition_key convention."""
    from datatest_spark.operators.checks import LengthBoundCheck
    from datatest_spark.operators.stats import partition_key_col

    d = _t(spark, sf_dir, "documents").withColumn(
        "partition_key", partition_key_col(["source"])
    )
    v = LengthBoundCheck(
        length_col="n_chars", min_len=150, max_len=400
    ).violations(d)
    return v.select(
        "check_id", "kind", "partition_key", "doc_id",
        F.col("value").cast("long").alias("value"),
        "expected",
        F.round("deviation", 4).alias("deviation"),
    )


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split (operators/packing.hash_split):
    membership is a pure function of (doc_id, seed) — reproducible
    across engines and partitionings, unlike randomSplit. md5 variant
    for the oracle; dyadic weights (0.75/0.125/0.125) keep the
    cumulative bounds exact in binary on both engines."""
    from datatest_spark.operators.packing import hash_split

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_split(
        d, {"train": 0.75, "val": 0.125, "test": 0.125}, hash_fn="md5"
    )


def q_containment_pairs(spark, sf_dir):
    """Asymmetric near-dup containment
    (operators/dedup.containment_pairs): |A∩B|/|A| catches short docs
    embedded in longer ones that Jaccard misses."""
    d = _t(spark, sf_dir, "documents")
    return dedup.containment_pairs(d, k=5, threshold=0.5)


def q_accepted_percent(spark, sf_dir):
    """T8 accepted.percent(p) distributed: interval Deviations whose
    deviation/expected ratio is within ±5% are absorbed by the pure
    Column acceptance filter; the remainder surfaces. Upper-bound
    violations (50 vs 49 → 2%) are accepted, lower-bound ones
    (1 vs 2 → -50%) are not."""
    from datatest_spark.acceptances import accepted
    from datatest_spark.requirements import RequiredInterval

    l = _t(spark, sf_dir, "lineitem")
    v = RequiredInterval(2.0, 49.0).violations(l.select("l_quantity"))
    out = accepted.percent(0.05).apply(v)
    return out.select(
        "kind",
        F.col("value").cast("double").alias("value"),
        "expected",
        F.round("deviation", 4).alias("deviation"),
    )


def q_quality_bands(spark, sf_dir):
    """Curriculum banding (operators/stats.quality_bands): per-source
    NTILE deciles of n_chars with deterministic id tie-break. exact=True
    is the oracle-reproducible variant; the scale default (exact=False)
    assigns value-based bands from broadcast approx-percentile
    boundaries — no per-group sort (see q_quality_bands_approx)."""
    from datatest_spark.operators.stats import quality_bands

    d = _t(spark, sf_dir, "documents")
    return quality_bands(
        d, "n_chars", group_col="source", n_bands=10, exact=True
    )


def q_pack_whole_docs(spark, sf_dir):
    """Whole-document next-fit packing (operators/packing.pack_whole_docs):
    the SFT-style no-split discipline — a true sequential recurrence per
    stream, run as ONE applyInPandas pass per source; oversize docs come
    back fits=false with null pack. Oracled by a DuckDB recursive CTE
    replaying the same recurrence."""
    from datatest_spark.operators.packing import pack_whole_docs

    d = _t(spark, sf_dir, "documents")
    return pack_whole_docs(
        d, length_col="n_chars", capacity=512,
        part_col="source", order_col="doc_id",
    )


def q_zipf_fit(spark, sf_dir):
    """Power-law corpus audit (operators/text.zipf_fit): per-source
    least-squares slope + r2 of log2(count) vs log2(rank) over word
    tokens. Fixed-point bigint regression sums -> parallelism-invariant
    and oracle-exact; the final ratios cast the same exact integers to
    double on both engines."""
    from datatest_spark.operators.text import zipf_fit

    d = _t(spark, sf_dir, "documents")
    toks = d.select("source", F.split(F.col("text"), " ").alias("tokens"))
    return zipf_fit(toks, group_col="source", max_rank=10000)


def q_cross_source_duplication(spark, sf_dir):
    """Source-pair verbatim overlap matrix
    (operators/dedup.cross_source_duplication): distinct content keys
    shared between each source pair + within-source dup counts. The
    key here is a 40-char prefix (the synth corpus has no full-text
    dups but real prefix overlap); hash join on md5 so the oracle
    reproduces it (xxhash64 is the production default)."""
    from datatest_spark.operators.dedup import cross_source_duplication

    d = _t(spark, sf_dir, "documents")
    return cross_source_duplication(
        d, text_col=F.substring(F.col("text"), 1, 40), hash_fn="md5"
    )


def q_mad_outliers(spark, sf_dir):
    """Robust per-source outlier detection (operators/stats.mad_outliers):
    median + MAD modified z-score over n_chars; 50% breakdown point
    means corrupt batches can't drag the center. Two |groups|-row
    broadcast joins, corpus never shuffles; exact percentile form is
    the oracle (percentile ≡ quantile_cont)."""
    from datatest_spark.operators.stats import mad_outliers

    d = _t(spark, sf_dir, "documents")
    return mad_outliers(
        d, "n_chars", group_col="source", threshold=2.0, exact=True
    )


def q_accepted_keys(spark, sf_dir):
    """T5 accepted.keys(predicate) distributed: interval Deviations over
    documents.n_chars grouped by source; violations whose group key is
    in {src0, src2} are absorbed by the pure Column set-membership
    acceptance, the rest surface. Exercises AcceptedKeys' predicate
    compiler on group_key."""
    from datatest_spark.acceptances import accepted
    from datatest_spark.requirements import RequiredInterval

    d = _t(spark, sf_dir, "documents")
    v = RequiredInterval(150.0, 400.0).violations(
        d.select("doc_id", "source", "n_chars"),
        columns=["n_chars"],
        id_col="doc_id",
        group_col="source",
    )
    out = accepted.keys({"src0", "src2"}).apply(v)
    return out.select(
        "kind",
        "group_key",
        "doc_id",
        F.col("value").cast("double").alias("value"),
        "expected",
        F.round("deviation", 4).alias("deviation"),
    )


def q_accepted_args(spark, sf_dir):
    """T6 accepted.args(predicate) distributed: the arbitrary-callable
    acceptance runs as a vectorized pandas UDF over violation rows only
    (the small side — never the corpus). Deviations within 25 of the
    violated bound are absorbed; args for a deviation row reconstruct
    as (deviation, expected), so the callable sees a[0] = deviation."""
    from datatest_spark.acceptances import accepted
    from datatest_spark.requirements import RequiredInterval

    d = _t(spark, sf_dir, "documents")
    v = RequiredInterval(150.0, 400.0).violations(
        d.select("doc_id", "n_chars"),
        columns=["n_chars"],
        id_col="doc_id",
    )
    out = accepted.args(
        lambda a: a[0] is not None and abs(a[0]) <= 25
    ).apply(v)
    return out.select(
        "kind",
        "doc_id",
        F.col("value").cast("double").alias("value"),
        "expected",
        F.round("deviation", 4).alias("deviation"),
    )


def q_quality_bands_approx(spark, sf_dir):
    """Curriculum banding, scale path (operators/stats.quality_bands
    exact=False): value-based bands from broadcast approx-percentile
    boundaries — ONE map-side-combinable agg + map-only assignment, no
    per-group sort. Spark's percentile_approx at exact-case accuracy is
    value-identical to DuckDB's quantile_disc (verified over 130
    (n, frac) probes), so the whole pipeline value-oracles."""
    from datatest_spark.operators.stats import quality_bands

    d = _t(spark, sf_dir, "documents")
    return quality_bands(
        d, "n_chars", group_col="source", n_bands=10, exact=False,
        accuracy=1000000,
    ).select(
        "doc_id", "source", "n_chars",
        F.col("band").cast("int").alias("band"),
    )


def q_accepted_tolerance(spark, sf_dir):
    """T7 accepted.tolerance(lo, hi): customer balance Deviations within
    [-500, 0] (i.e. up to 500 under the lower bound) are absorbed by
    the pure Column acceptance; deeper debts surface."""
    from datatest_spark.acceptances import accepted
    from datatest_spark.requirements import RequiredInterval

    c = _t(spark, sf_dir, "customer")
    v = RequiredInterval(lower=0.0).violations(
        c.select("c_custkey", "c_acctbal"),
        columns=["c_acctbal"],
        id_col="c_custkey",
    )
    out = accepted.tolerance(-500.0, 0.0).apply(v)
    return out.select(
        "kind",
        "doc_id",
        F.col("value").cast("double").alias("value"),
        F.round("deviation", 4).alias("deviation"),
    )


def q_paragraph_dups(spark, sf_dir):
    """Cross-document repeated-paragraph blocklist
    (operators/dedup.duplicate_paragraphs — RefinedWeb/MassiveText
    paragraph dedup step 1): ONE explode + ONE par_hash groupBy. The
    synth corpus has no newlines, so the query splits on the word
    boundary ' the ' — same code path as the '\\n{2,}' production
    default, different regex."""
    from datatest_spark.operators.dedup import duplicate_paragraphs

    d = _t(spark, sf_dir, "documents")
    return duplicate_paragraphs(d, split=" the ", min_docs=2)


def q_paragraph_dup_profile(spark, sf_dir):
    """Per-document duplicated-paragraph exposure
    (operators/dedup.paragraph_dup_profile — the MassiveText
    doc-removal signal): explode -> repartition(par_hash); the
    (hash, doc) partial agg AND the per-hash distinct-doc window both
    ride that one exchange (subset co-location), then one |docs|-row
    groupBy."""
    from datatest_spark.operators.dedup import paragraph_dup_profile

    d = _t(spark, sf_dir, "documents")
    return paragraph_dup_profile(d, split=" the ", min_docs=2)


def q_scrub_paragraphs(spark, sf_dir):
    """Boilerplate scrub rewrite (operators/dedup.scrub_dup_paragraphs,
    keep='first'): dense_rank+max distinct-doc count and the global
    first-occurrence row_number share one par_hash exchange; per-doc
    reassembly buffers are bounded by document size."""
    from datatest_spark.operators.dedup import scrub_dup_paragraphs

    d = _t(spark, sf_dir, "documents")
    return scrub_dup_paragraphs(
        d, split=" the ", min_docs=2, keep="first", sep_out=" the "
    )


def q_dsir_weights(spark, sf_dir):
    """DSIR importance log-ratios (operators/text.dsir_weights, Xie et
    al. 2023): score every document by log2 p_target / p_corpus over
    hashed-bucket add-1 unigram models (target = the 'en' slice). Both
    models are 4096-bucket-bounded; the delta array is collected once
    and scoring is MAP-ONLY fixed-point sums (zero corpus-side
    exchanges, plan-pinned in tests/test_dsir.py)."""
    from datatest_spark.operators.text import dsir_weights

    d = _t(spark, sf_dir, "documents")
    toks = d.where(F.col("text").isNotNull()).select(
        "doc_id", F.split(F.col("text"), " ").alias("tokens")
    )
    target = toks.join(
        d.where(F.col("lang") == "en").select("doc_id"), "doc_id"
    )
    return dsir_weights(toks, target, n_buckets=4096, hash_fn="md5")


def q_snapshot_delta(spark, sf_dir):
    """Recrawl/corpus-version diff (operators/dedup.snapshot_delta):
    distinct-content added/removed/kept per source between two
    snapshots (here: deterministic doc_id%10 slices of documents —
    old <= 7, new >= 2). Each side collapses to (hash, source) via a
    map-side distinct BEFORE the full-outer join, so the join carries
    distinct contents, never documents."""
    from datatest_spark.operators.dedup import snapshot_delta

    d = _t(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 10 <= 7)
    new = d.where(F.col("doc_id") % 10 >= 2)
    return snapshot_delta(old, new, hash_fn="md5")


def q_temperature_mixture(spark, sf_dir):
    """Temperature-scaled source mixture (operators/packing.
    temperature_mixture_plan, the mC4/mT5 sampling rule): share_i =
    T_i^alpha / sum T_j^alpha over n_chars totals, alpha=0.5, 100k
    budget. ONE map-side agg + a |sources|-row broadcast of the scalar
    denominator."""
    from datatest_spark.operators.packing import temperature_mixture_plan

    d = _t(spark, sf_dir, "documents")
    return temperature_mixture_plan(
        d, 100_000, length_col="n_chars", source_col="source", alpha=0.5
    )


def q_doc_chunks(spark, sf_dir):
    """Context-window chunking (operators/packing.chunk_documents):
    120-char windows with stride 80 (overlapping, the LM-eval setup),
    tails shorter than 20 chars dropped. MAP-ONLY — one
    sequence+explode+substring projection, zero Exchange (plan-pinned);
    the oracle rebuilds the identical windows with
    range(0, len, stride) + substr."""
    from datatest_spark.operators.packing import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, size=120, stride=80, min_len=20)


def q_normalized_dup_groups(spark, sf_dir):
    """Normalization-tolerant exact dedup (text.normalize_text +
    dedup.exact_duplicates): case/punctuation/whitespace variants hash
    to one key (the CCNet/C4 pre-hash canonicalization). MAP-ONLY
    normalize + ONE md5 groupBy; regex classes are in the RE2∩Java
    subset so the DuckDB oracle rebuilds the identical canonical form
    (explicit [ \\t\\n\\r\\f] whitespace — Java \\s includes U+000B,
    RE2's does not; DuckDB regexp_replace needs the 'g' flag Spark
    implies). The hash key is the 80-char normalized PREFIX — the
    synthetic corpus has no byte-identical documents, so full-text
    keys would make the check vacuous (same device as
    q:cross_source_duplication)."""
    d = _t(spark, sf_dir, "documents")
    key = F.substring(text.normalize_text(), 1, 80)
    return dedup.exact_duplicates(d, text_col=key).select(
        "content_hash", "n_docs", "doc_ids"
    )


def q_dedup_impact(spark, sf_dir):
    """Per-source dedup cost audit (operators/dedup.dedup_impact):
    docs and chars each source loses when every normalized-content
    group keeps its min-id representative — the effective-counts input
    a token-budget mixture should consume instead of raw row shares.
    Same 80-char normalized key as q:normalized_dup_groups; one
    content-hash window exchange + one groupBy(source)."""
    d = _t(spark, sf_dir, "documents")
    key = F.substring(text.normalize_text(), 1, 80)
    return dedup.dedup_impact(
        d, key_col=key, weight_col="n_chars"
    ).select(
        F.col("group").alias("source"),
        "n_docs",
        "n_redundant",
        "redundancy_rate",
        "w_total",
        "w_redundant",
        "w_rate",
    )


def q_source_cross_entropy(spark, sf_dir):
    """Pairwise source unigram cross-entropy matrix
    (operators/text.source_cross_entropy): bits/token each source costs
    under every other source's add-one-smoothed unigram LM — the
    mixture-design map (interchangeable vs novel sources) and a drift
    alarm with an information-theoretic unit. Fixed-point log-probs
    (unigram_model discipline) make every mass-weighted sum an exact
    integer; absent tokens cost a closed-form per-ref constant."""
    from datatest_spark.operators import text as t

    d = _t(spark, sf_dir, "documents")
    toks = d.select("source", F.split(F.col("text"), " ").alias("toks"))
    return t.source_cross_entropy(toks, "toks", "source")


def q_prefix_boilerplate(spark, sf_dir):
    """Boilerplate-prefix groups (operators/dedup.common_prefix_groups):
    documents opening with the same first 6 tokens — template headers /
    license preambles, the actionable WHICH-prefix/WHICH-docs companion
    to position_entropy's corpus-wide THAT-it's-templated signal.
    Map-only slice+join, one groupBy(prefix)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.common_prefix_groups(d, k=6)


def q_split_leakage(spark, sf_dir):
    """Train/test contamination audit (operators/dedup.split_leakage):
    normalized-content duplicate groups that STRADDLE the deterministic
    hash split — id-keyed splitting puts normalization-identical copies
    on both sides of the eval boundary, the leakage that inflates eval
    scores. Same md5 split arithmetic as q:hash_split (dyadic weights,
    exact in binary) and the same 80-char normalized key as
    q:normalized_dup_groups, so the oracle rebuilds both byte-for-byte."""
    d = _t(spark, sf_dir, "documents")
    key = F.substring(text.normalize_text(), 1, 80)
    return dedup.split_leakage(
        d,
        {"train": 0.75, "val": 0.125, "test": 0.125},
        key_col=key,
        hash_fn="md5",
    )


def q_token_burstiness(spark, sf_dir):
    """Church–Gale burstiness top-50 (operators/text.token_burstiness):
    tokens whose occurrences concentrate in few docs far beyond
    Poisson (vmr >> 1) — topicality/boilerplate forensics over two
    combine-friendly exchanges and a TakeOrderedAndProject top-n."""
    from datatest_spark.operators import text as t

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    return t.token_burstiness(toks, "toks", "doc_id", min_df=20, top_n=50)


def q_lexical_types(spark, sf_dir):
    """Schema-inference audit (operators/stats.lexical_type_profile):
    per-column lexical type counts + the inferred type over the events
    table's string forms — the landing-zone gate that fails loudly when
    an ingest's numeric/date/json column stops parsing. MAP-ONLY regex
    counters in one scalar agg; anchored RE2∩Java patterns classify
    identically cross-engine."""
    from datatest_spark.operators.stats import lexical_type_profile

    e = _t(spark, sf_dir, "events")
    return lexical_type_profile(
        e, ["user_id", "value", "ts", "event_type", "props"]
    )


def q_split_balance(spark, sf_dir):
    """Split-balance audit (operators/packing.split_balance_audit, md5
    mode): per (split, source) observed vs expected share with the
    exact binomial z — the did-the-split-actually-balance check on top
    of q:hash_split's pure assignment. Map-only split + one combinable
    groupBy; z is a fixed IEEE sequence on exact counts."""
    from datatest_spark.operators import packing

    d = _t(spark, sf_dir, "documents")
    # dyadic weights: cumulative bounds and shares stay EXACT doubles,
    # so the oracle can write 0.75/0.875 literally (hash_split oracle
    # discipline)
    return packing.split_balance_audit(
        d, {"train": 0.75, "val": 0.125, "test": 0.125},
        hash_fn="md5", group_col="source",
    )


def q_epoch_mixture(spark, sf_dir):
    """Data-constrained mixture plan (operators/packing.
    epoch_mixture_plan): mixture_plan rates decomposed into full
    epochs + fraction under a 3-epoch repeat ceiling, with
    unique/repeated token accounting and the shortfall a capped source
    cannot deliver. src0's target forces the cap; src3 shows target 0;
    untargeted sources rate 0."""
    from datatest_spark.operators import packing

    d = _t(spark, sf_dir, "documents")
    return packing.epoch_mixture_plan(
        d,
        {"src0": 40000, "src1": 10000, "src2": 3000, "src3": 0},
        max_epochs=3.0,
        length_col="n_chars",
    )


def q_dup_label_conflict(spark, sf_dir):
    """Duplicate label-conflict audit (operators/dedup.
    dup_label_conflict): every 25th doc is overwritten with one shared
    boilerplate block (deterministic seeding, the pii_scan pattern), so
    content-identical members carry different embedding labels — the
    annotation-noise signal. One id join + one combinable groupBy with
    bounded per-group state (no member lists)."""
    from datatest_spark.operators import dedup

    d = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 25 == 0, F.lit("DUPLICATE BOILERPLATE BLOCK")
        ).otherwise(F.col("text")),
    )
    e = _t(spark, sf_dir, "embeddings")
    return dedup.dup_label_conflict(
        d, e, label_id_col="vec_id", label_col="label"
    )


def q_lang_agreement(spark, sf_dir):
    """Chance-corrected annotation agreement (operators/stats.
    cohen_kappa): Cohen's κ between the declared lang column and the
    lang_id heuristic — the scalar that tells you whether the labeler
    beats luck (the confusion matrix q:langid_confusion is the
    breakdown). Three combinable aggregates joined on |langs| rows;
    the marginal product sum is DECIMAL(38,0)-exact."""
    from datatest_spark.operators.stats import cohen_kappa

    d = _t(spark, sf_dir, "documents")
    pred = d.select("lang", text.lang_id().alias("predicted"))
    return cohen_kappa(pred, "lang", "predicted")


def q_chao1_richness(spark, sf_dir):
    """Chao1 vocabulary-richness asymptote + Good–Turing coverage per
    source (operators/text.chao1_richness): does another crawl of this
    source buy new vocabulary or repeats — the point-estimate
    companion to q:heaps_fit's growth curve. vocab_topk's exchange
    plus a |vocab|-row spectrum collapse."""
    from datatest_spark.operators.text import chao1_richness

    d = _t(spark, sf_dir, "documents")
    toks = d.select("source", F.split(F.col("text"), " ").alias("toks"))
    return chao1_richness(toks, "toks", "source")


def q_ess_audit(spark, sf_dir):
    """Effective-sample-size audit (operators/packing.ess_audit) of
    byte-weighted sampling per source: ESS = (Σw)²/Σw² with w =
    n_chars — the weight-collapse gate an importance-weighted mixture
    needs before burning a training run. Fixed-point DECIMAL sums,
    one combinable groupBy."""
    from datatest_spark.operators.packing import ess_audit

    d = _t(spark, sf_dir, "documents")
    return ess_audit(d, "n_chars", "source")


def q_candidate_keys(spark, sf_dir):
    """Candidate-key mining (operators/stats.candidate_keys): per
    column set of the events profile list (singletons + pairs),
    distinct-combination counts and uniqueness ratio — which set IS
    the key (event_id), which de-facto key is drifting. One exploded
    scan map-side-combined to |sets|x|distinct tuples| rows."""
    from datatest_spark.operators.stats import candidate_keys

    e = _t(spark, sf_dir, "events")
    return candidate_keys(
        e, ["event_id", "user_id", "event_type"], max_arity=2
    )


def q_partition_fingerprints(spark, sf_dir):
    """Content-addressed partition fingerprints (operators/checks.
    partition_fingerprint): order-insensitive exact DECIMAL sum of a
    60-bit md5 row draw per source partition — same multiset of rows,
    same fingerprint, regardless of file layout. MAP-ONLY hashing into
    one combinable groupBy."""
    from datatest_spark.operators import checks as ck

    d = _t(spark, sf_dir, "documents")
    return ck.partition_fingerprint(d, ("source",))


def q_fingerprint_diff(spark, sf_dir):
    """Which partitions changed between snapshots (operators/checks.
    fingerprint_diff): the doc_id % 3 != 0 subset vs the full corpus —
    every source reads `changed` (each lost ~1/3 of its rows), and the
    diff itself is an outer join of two |partitions|-row frames with
    zero corpus involvement; the incremental-validation planner's
    input."""
    from datatest_spark.operators import checks as ck

    d = _t(spark, sf_dir, "documents")
    old = ck.partition_fingerprint(
        d.where(F.col("doc_id") % 3 != 0), ("source",)
    )
    new = ck.partition_fingerprint(d, ("source",))
    return ck.fingerprint_diff(old, new)


_FD_COLUMNS = ("o_custkey", "o_orderstatus", "o_orderpriority")
_FD_MIN_SUPPORT = 0.95


def q_fd_discovery(spark, sf_dir):
    """FD mining (operators/stats.fd_discovery): corpus-level g3 error
    for every ordered column pair of the orders profile set — the
    discovery pass whose surviving FDs feed fd_audit/FD checks. One
    exploded scan, map-side-combined to |pairs|×|value pairs| rows."""
    from datatest_spark.operators.stats import fd_discovery

    o = _t(spark, sf_dir, "orders")
    return fd_discovery(o, list(_FD_COLUMNS), min_support=_FD_MIN_SUPPORT)


def q_consolidate_rare(spark, sf_dir):
    """Long-tail consolidation (operators/stats.consolidate_rare):
    words under 100 occurrences collapse to __other__, returning the
    consolidated distribution — the contingency-table / vocab-pruning
    prep. Broadcast keep-set join; the corpus side never shuffles."""
    from datatest_spark.operators.stats import consolidate_rare

    d = _t(spark, sf_dir, "documents")
    w = d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
    return (
        consolidate_rare(w, "word", 100)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _fd_discovery_oracle_sql():
    """Mirror of q:fd_discovery GENERATED from the same _FD_COLUMNS /
    _FD_MIN_SUPPORT constants (shared source of truth) — including the
    exact float literal of 1 − min_support, so the `holds` boundary
    compares the identical double on both engines."""
    nul = "chr(0) || 'null' || chr(0)"
    blocks = []
    for a in _FD_COLUMNS:
        for b in _FD_COLUMNS:
            if a == b:
                continue
            blocks.append(
                "SELECT '{a}->{b}' AS fd,\n"
                "       COALESCE(CAST({a} AS VARCHAR), {n}) AS det,\n"
                "       COALESCE(CAST({b} AS VARCHAR), {n}) AS dep\n"
                "FROM orders".format(a=a, b=b, n=nul)
            )
        thr = repr(1.0 - _FD_MIN_SUPPORT)
    return """
        WITH E AS (
            {union}
        ),
        PC AS (
            SELECT fd, det, dep, CAST(COUNT(*) AS BIGINT) AS n
            FROM E GROUP BY 1, 2, 3
        ),
        PD AS (
            SELECT fd, det, MAX(n) AS keep, SUM(n) AS tot
            FROM PC GROUP BY 1, 2
        ),
        PF AS (
            SELECT fd, CAST(SUM(tot) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_det,
                   CAST(SUM(keep) AS BIGINT) AS n_kept
            FROM PD GROUP BY 1
        )
        SELECT fd, n_rows, n_det, n_kept,
               ROUND(1.0 - CAST(n_kept AS DOUBLE)
                     / CAST(n_rows AS DOUBLE), 6) AS g3,
               (1.0 - CAST(n_kept AS DOUBLE)
                / CAST(n_rows AS DOUBLE)) <= {thr} AS holds
        FROM PF
    """.format(union="\nUNION ALL\n".join(blocks), thr=thr)


# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the wide per-partition stats pass on sf0.001 documents."""
    return q_wide_stats_documents(spark, "/root/testdata/sf0.001")


# ORDERING CONTRACT: the driver's correctness gate checks exactly the
# FIRST 50 keys of queries() in insertion order. _DRIVER_WINDOW is the
# explicit window — every never-driver-green value-oracled operator that
# fits. Non-veteran
# queries now OUTNUMBER the 50 slots, so the overflow below is a
# CONSCIOUS choice, each entry with an in-window sibling exercising the
# same core or a dedicated pytest pin (and all swept green by
# tools/check_oracles.py every session):
#   lsh_candidate_pairs  — exact-verify core shared with in-window
#                          prefix_jaccard_pairs; banding pinned by
#                          subset/value tests
#   bloom_survivors      — same bitmap arithmetic as in-window
#                          bloom_decontam (complement query)
#   padding_audit        — aggregation over in-window length_buckets'
#                          exact assignment
#   scrub_paragraphs     — same par_hash core as in-window
#                          paragraph_dups / paragraph_dup_profile
#   quality_bands_approx — approx<->exact agreement pinned vs in-window
#                          quality_bands
#   simhash_md5_signatures — already driver-green in r04 (rotated
#                          out in round 5 to admit accepted_keys/args
#                          per the r04 verdict's explicit done-criterion)
#   source_signatures    — newest; fixed-point scoring shares the
#                          unigram-LM discipline
#   scrub_token_spans    — cut stage over in-window duplicate_spans'
#                          spans; python-reference parity + iterative
#                          convergence property-tested
#   lang_mix             — per-paragraph composition of the in-window
#                          langid heuristic (oracle GENERATED from the
#                          same STOPWORDS table)
#   corr_length_words / readability / fertility / shard_manifest /
#   vocab_overlap / retention_cohorts /
#   fd_violations / benford_digits / null_pattern /
#   pmi_collocations / heavy_hitters / bootstrap_ci / association /
#   position_entropy / oov_profile / mwu_drift /
#   ngram_novelty / sample_rate_audit / volume_anomalies
#                        — session-3+ operators, each value-oracled and
#                          pinned by dedicated pytest tests; the window
#                          was already full of never-driver-checked
#                          round-5 ops when they landed
#   token_burstiness / lexical_types
#                        — session-10 operators, same contract
#                          (mirror-sweep value oracle + pytest pins in
#                          test_pipeline.py::TestSession10Ops, plan pins
#                          in test_plans.py::TestSession10Plans)
_DRIVER_WINDOW = (
    "token_run_quality", "vocab_topk", "ks_drift", "chi2_drift",
    "js_drift", "spearman_drift", "emd_drift", "psi_equidepth",
    "robust_location", "token_entropy", "source_shares", "pii_scan",
    "pii_scrub", "c4_line_filter", "mojibake_scan", "unigram_logloss",
    "quality_gate_survivors", "token_contamination", "duplicate_spans",
    "order_violations", "accepted_count_budget", "bigram_logloss",
    "context_length_profile", "mixture_plan", "self_repetition_spans",
    "length_bound_violations", "token_boundary_violations", "hash_split",
    "containment_pairs", "accepted_percent", "quality_bands",
    "accepted_tolerance", "mad_outliers", "zipf_fit",
    "cross_source_duplication", "pack_whole_docs", "paragraph_dups",
    "paragraph_dup_profile", "dsir_weights", "snapshot_delta",
    "temperature_mixture", "doc_chunks", "normalized_dup_groups",
    "prefix_jaccard_pairs", "bloom_decontam", "weighted_sample",
    "epoch_shuffle", "length_buckets", "accepted_keys",
    "accepted_args",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    d = {
        # --- group 1: previously outside the driver's 50-query window ---
        "token_run_quality": q_token_run_quality,
        "vocab_topk": q_vocab_topk,
        "ks_drift": q_ks_drift,
        "chi2_drift": q_chi2_drift,
        "js_drift": q_js_drift,
        "spearman_drift": q_spearman_drift,
        "psi_equidepth": q_psi_equidepth,
        "robust_location": q_robust_location,
        "emd_drift": q_emd_drift,
        "corr_length_words": q_corr_length_words,
        "readability": q_readability,
        "fertility": q_fertility,
        "shard_manifest": q_shard_manifest,
        "vocab_overlap": q_vocab_overlap,
        "token_entropy": q_token_entropy,
        "source_shares": q_source_shares,
        "source_concentration": q_source_concentration,
        "pii_scan": q_pii_scan,
        "pii_scrub": q_pii_scrub,
        "c4_line_filter": q_c4_line_filter,
        "mojibake_scan": q_mojibake_scan,
        "unigram_logloss": q_unigram_logloss,
        "quality_gate_survivors": q_quality_gate,
        "token_contamination": q_token_contamination,
        "duplicate_spans": q_duplicate_spans,
        "order_violations": q_order_violations,
        "accepted_count_budget": q_accepted_count_budget,
        "bigram_logloss": q_bigram_logloss,
        "context_length_profile": q_context_length_profile,
        "mixture_plan": q_mixture_plan,
        "self_repetition_spans": q_self_repetition_spans,
        "scrub_token_spans": q_scrub_token_spans,
        "length_bound_violations": q_length_bound_violations,
        "token_boundary_violations": q_token_boundary_violations,
        "hash_split": q_hash_split,
        "containment_pairs": q_containment_pairs,
        "accepted_percent": q_accepted_percent,
        "quality_bands": q_quality_bands,
        "accepted_tolerance": q_accepted_tolerance,
        # --- group 2: new round-5 operators (insert here) ---
        "quality_bands_approx": q_quality_bands_approx,
        "accepted_keys": q_accepted_keys,
        "accepted_args": q_accepted_args,
        "mad_outliers": q_mad_outliers,
        "zipf_fit": q_zipf_fit,
        "cross_source_duplication": q_cross_source_duplication,
        "pack_whole_docs": q_pack_whole_docs,
        "paragraph_dups": q_paragraph_dups,
        "paragraph_dup_profile": q_paragraph_dup_profile,
        "scrub_paragraphs": q_scrub_paragraphs,
        "dsir_weights": q_dsir_weights,
        "snapshot_delta": q_snapshot_delta,
        "temperature_mixture": q_temperature_mixture,
        "doc_chunks": q_doc_chunks,
        "normalized_dup_groups": q_normalized_dup_groups,
        "split_leakage": q_split_leakage,
        "prefix_boilerplate": q_prefix_boilerplate,
        "source_cross_entropy": q_source_cross_entropy,
        "dedup_impact": q_dedup_impact,
        # --- group 3: round-5 session-2 operators (first driver shot) ---
        # (suite_verdicts / lsh_candidate_pairs / dedup_cluster_labels
        # rotated past the 50-query window:
        # each is a 4x-driver-green veteran, still swept by
        # tools/check_oracles.py every session)
        "prefix_jaccard_pairs": q_prefix_jaccard_pairs,
        "bloom_decontam": q_bloom_decontam,
        "weighted_sample": q_weighted_sample,
        "epoch_shuffle": q_epoch_shuffle,
        # --- group 3b: round-5 session-6 operators (past the frozen
        # window; overflow contract — value-oracled in the mirror sweep
        # plus dedicated pytest pins, see tests/test_artifact.py) ---
        "minhash_error_audit": q_minhash_error_audit,
        "dup_ngram_fraction": q_dup_ngram_fraction,
        "heaps_fit": q_heaps_fit,
        "fuzzy_dup_pairs": q_fuzzy_dup_pairs,
        "quantile_shift": q_quantile_shift,
        "percentile_rank": q_percentile_rank,
        "freq_spectrum": q_freq_spectrum,
        # --- group 3c: round-5 session-7 operators (same overflow
        # contract: mirror-sweep value oracle + pytest pins in
        # test_pipeline.py::TestSession7Ops) ---
        "jaccard_sweep": q_jaccard_sweep,
        "chain_collapse": q_chain_collapse,
        # --- group 3d: round-5 session-8 operators (same overflow
        # contract: mirror-sweep value oracle + pytest pins in
        # test_pipeline.py::TestSession8Ops) ---
        "series_autocorr": q_series_autocorr,
        "schema_drift": q_schema_drift,
        "band_migration": q_band_migration,
        "compression_profile": q_compression_profile,
        # --- group 3e: round-5 session-9 operators (same overflow
        # contract: mirror-sweep value oracle + pytest pins in
        # test_pipeline.py::TestTrigramBackoff) ---
        "trigram_logloss": q_trigram_logloss,
        "surprisal_profile": q_surprisal_profile,
        "surprisal_spans": q_surprisal_spans,
        # --- past the driver's 50-query window from here on ---
        "length_buckets": q_length_buckets,
        "padding_audit": q_padding_audit,
        "suite_verdicts": q_suite_verdicts,
        "lsh_candidate_pairs": q_lsh_candidate_pairs,
        "dedup_cluster_labels": q_dedup_cluster_labels,
        "simhash_md5_signatures": q_simhash_md5_signatures,
        # --- group 4: long-green veterans past the 50-query window ---
        # (wide_stats/tpch_q1/uniqueness/jaccard rotated here
        #  in round 5 to make window room for the new round-5 operators;
        #  each had >= 2 driver-green rounds, pinned by
        #  tests/test_artifact.py)
        "wide_stats_documents": q_wide_stats_documents,
        "tpch_q1_pricing": q_tpch_q1_pricing,
        "uniqueness_surplus": q_uniqueness_surplus,
        "jaccard_pairs": q_jaccard_pairs,
        # (mixture_sample / pack_sequences / stratified_sample /
        # decontam_survivors / contamination_hits
        # rotated out in round 5 to admit the paragraph-dedup family,
        # dsir_weights, snapshot_delta and temperature_mixture: each is
        # a 2x-driver-green veteran, still swept by check_oracles.py)
        "mixture_sample": q_mixture_sample,
        "pack_sequences": q_pack_sequences,
        "stratified_sample": q_stratified_sample,
        "decontam_survivors": q_decontam_survivors,
        "contamination_hits": q_contamination_hits,
        "bloom_survivors": q_bloom_survivors,
        "source_signatures": q_source_signatures,
        "lang_mix": q_lang_mix,
        "exact_dup_groups": q_exact_dup_groups,
        "minhash_signatures": q_minhash_signatures,
        "repetition_profile": q_repetition_profile,
        "exact_quantiles": q_exact_quantiles,
        "interval_deviations": q_interval_deviations,
        "drift_psi": q_drift_psi,
        "referential_orphans": q_referential_orphans,
        "set_extra_values": q_set_extra_values,
        "set_missing_required": q_set_missing_required,
        "negative_balance_deviation": q_negative_balance_deviation,
        "regex_invalid": q_regex_invalid,
        "json_extract_stats": q_json_extract_stats,
        "topk_per_group": q_topk_per_group,
        "histogram_n_chars": q_histogram_n_chars,
        "consistency_verdicts": q_consistency_verdicts,
        "freshness_events": q_freshness_events,
        "freshness_gate": q_freshness_gate,
        "join_revenue": q_join_revenue,
        "token_counts": q_token_counts,
        "regex_token_counts": q_regex_token_counts,
        "quality_profile": q_quality_profile,
        "langid_confusion": q_langid_confusion,
        "fingerprints": q_fingerprints,
        "winnow_fingerprints": q_winnow_fingerprints,
        "sessionization": q_sessionization,
        "retention_cohorts": q_retention_cohorts,
        "fd_violations": q_fd_violations,
        "benford_digits": q_benford_digits,
        "null_pattern": q_null_pattern,
        "pmi_collocations": q_pmi_collocations,
        "heavy_hitters": q_heavy_hitters,
        "bootstrap_ci": q_bootstrap_ci,
        "association": q_association,
        "position_entropy": q_position_entropy,
        "oov_profile": q_oov_profile,
        "mwu_drift": q_mwu_drift,
        "ngram_novelty": q_ngram_novelty,
        "sample_rate_audit": q_sample_rate_audit,
        "volume_anomalies": q_volume_anomalies,
        "inspection_sample": q_inspection_sample,
        "cusum_volume": q_cusum_volume,
        "pivot_order_status": q_pivot_order_status,
        "rollup_revenue": q_rollup_revenue,
        "simhash_pairs": q_simhash_pairs,
        "token_burstiness": q_token_burstiness,
        "lexical_types": q_lexical_types,
        "split_balance": q_split_balance,
        "epoch_mixture": q_epoch_mixture,
        "dup_label_conflict": q_dup_label_conflict,
        "lang_agreement": q_lang_agreement,
        "chao1_richness": q_chao1_richness,
        "ess_audit": q_ess_audit,
        "fd_discovery": q_fd_discovery,
        "consolidate_rare": q_consolidate_rare,
        "partition_fingerprints": q_partition_fingerprints,
        "fingerprint_diff": q_fingerprint_diff,
        "candidate_keys": q_candidate_keys,
    }
    # apply the window ordering: _DRIVER_WINDOW first (declared order),
    # then everything else in registration order
    assert set(_DRIVER_WINDOW) <= set(d), sorted(set(_DRIVER_WINDOW) - set(d))
    ordered = {k: d[k] for k in _DRIVER_WINDOW}
    ordered.update({k: v for k, v in d.items() if k not in ordered})
    return ordered


_SHINGLE_CTE = """
W AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
S AS (
    SELECT DISTINCT doc_id,
           array_to_string(w[i : i + 4], ' ') AS shingle
    FROM W, UNNEST(range(1, GREATEST(len(w) - 3, 2))) AS t(i)
)
"""

_LANGID_SQL = """
H AS (
    SELECT lang, text, ' ' || text || ' ' AS p FROM documents
),
SCORES AS (
    SELECT lang,
        (CASE WHEN p LIKE '% the %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% a %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% and %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% of %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% to %' THEN 1 ELSE 0 END) AS h_en,
        (CASE WHEN p LIKE '% el %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% la %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% de %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% que %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% y %' THEN 1 ELSE 0 END) AS h_es,
        (CASE WHEN p LIKE '% der %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% die %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% das %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% und %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% ist %' THEN 1 ELSE 0 END) AS h_de,
        (CASE WHEN p LIKE '% le %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% la %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% les %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% et %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% des %' THEN 1 ELSE 0 END) AS h_fr,
        (CASE WHEN p LIKE '% 的 %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% 是 %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% 了 %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% 在 %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% 和 %' THEN 1 ELSE 0 END) AS h_zh
    FROM H
),
PRED AS (
    SELECT lang,
        CASE
            WHEN h_de > 0 AND h_de = GREATEST(h_en, h_es, h_de, h_fr, h_zh) THEN 'de'
            WHEN h_en > 0 AND h_en = GREATEST(h_en, h_es, h_de, h_fr, h_zh) THEN 'en'
            WHEN h_es > 0 AND h_es = GREATEST(h_en, h_es, h_de, h_fr, h_zh) THEN 'es'
            WHEN h_fr > 0 AND h_fr = GREATEST(h_en, h_es, h_de, h_fr, h_zh) THEN 'fr'
            WHEN h_zh > 0 AND h_zh = GREATEST(h_en, h_es, h_de, h_fr, h_zh) THEN 'zh'
            ELSE 'und'
        END AS predicted
    FROM SCORES
)
"""

_QUALITY_EXPR = """
ROUND((
    (CASE WHEN (LENGTH(text) * 1.0 / GREATEST(LEN(string_split(text, ' ')), 1))
               BETWEEN 3 AND 12 THEN 1.0
          ELSE 1.0 / (1.0 + ABS(LENGTH(text) * 1.0
               / GREATEST(LEN(string_split(text, ' ')), 1) - 7.5)) END)
  + (LEN(regexp_extract_all(text, '[A-Za-z ]')) * 1.0
     / GREATEST(LENGTH(text), 1))
) / 2.0, 4)
"""


def _lang_mix_oracle_sql():
    """Paragraph-level mirror of the lang_id heuristic: generated from
    the SAME STOPWORDS table the engine uses, so the two can never
    drift. Majority tie-break = smallest lang (ROW_NUMBER lang ASC),
    matching both lang_id's first-sorted-winner rule and the engine's
    array_min struct vote."""
    from datatest_spark.operators.text import STOPWORDS

    langs = sorted(STOPWORDS)
    scores = []
    for lang in langs:
        cases = "\n       + ".join(
            "CASE WHEN p LIKE '% {0} %' THEN 1 ELSE 0 END".format(w)
            for w in STOPWORDS[lang]
        )
        scores.append("({0}) AS h_{1}".format(cases, lang))
    greatest = "GREATEST({0})".format(
        ", ".join("h_" + lang for lang in langs)
    )
    whens = "\n            ".join(
        "WHEN h_{0} > 0 AND h_{0} = {1} THEN '{0}'".format(lang, greatest)
        for lang in langs
    )
    return """
        WITH S AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 5 = 0
                           THEN chr(10) || 'el la de que y en la casa'
                           ELSE '' END
                   || CASE WHEN doc_id % 10 = 0
                           THEN chr(10) || 'que y el de la y que'
                           ELSE '' END AS text
            FROM documents
        ),
        P0 AS (
            SELECT doc_id, UNNEST(string_split_regex(text, '\n+')) AS para
            FROM S
        ),
        P AS (
            SELECT doc_id, ' ' || para || ' ' AS p
            FROM P0 WHERE len(trim(para)) >= 1
        ),
        SC AS (SELECT doc_id, {scores} FROM P),
        L AS (
            SELECT doc_id, CASE {whens} ELSE 'und' END AS lang FROM SC
        ),
        CNT AS (SELECT doc_id, lang, COUNT(*) AS c FROM L GROUP BY 1, 2),
        NP AS (
            SELECT doc_id, COUNT(*) AS n_paragraphs,
                   COUNT(DISTINCT lang) AS n_langs
            FROM L GROUP BY 1
        ),
        MAJ AS (
            SELECT doc_id, lang, c,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY c DESC, lang ASC) AS rk
            FROM CNT
        )
        SELECT s.doc_id,
               COALESCE(np.n_paragraphs, 0) AS n_paragraphs,
               m.lang AS majority_lang,
               ROUND(m.c * 1.0 / np.n_paragraphs, 6) AS majority_frac,
               COALESCE(np.n_langs, 0) AS n_langs,
               COALESCE(np.n_langs > 1, FALSE) AS mixed
        FROM (SELECT DISTINCT doc_id FROM S) s
        LEFT JOIN NP np ON s.doc_id = np.doc_id
        LEFT JOIN (SELECT * FROM MAJ WHERE rk = 1) m
          ON s.doc_id = m.doc_id
    """.format(scores=",\n            ".join(scores), whens=whens)


def _lexical_types_oracle_sql(table="events", cols=None):
    """Mirror of stats.lexical_type_profile, GENERATED from the SAME
    LEXICAL_CLASSES table the engine uses (the lang_mix discipline:
    shared source of truth, so the two can never drift). Anchored
    RE2∩Java patterns classify identically under DuckDB's
    regexp_matches and Spark's rlike."""
    from datatest_spark.operators.stats import LEXICAL_CLASSES

    cols = cols or ["user_id", "value", "ts", "event_type", "props"]
    blocks = []
    for c in cols:
        s = "CAST({0} AS VARCHAR)".format(c)
        lines = [
            "SELECT '{0}' AS \"column\"".format(c),
            "CAST(COUNT(*) AS BIGINT) AS n",
            "CAST(SUM(CASE WHEN {0} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            " AS n_null".format(s),
            "CAST(SUM(CASE WHEN {0} IS NOT NULL AND regexp_matches({0},"
            " '^\\s*$') THEN 1 ELSE 0 END) AS BIGINT) AS n_empty".format(s),
        ]
        for name, pat in LEXICAL_CLASSES:
            lines.append(
                "CAST(SUM(CASE WHEN {0} IS NOT NULL AND regexp_matches("
                "{0}, '{1}') THEN 1 ELSE 0 END) AS BIGINT) AS n_{2}".format(
                    s, pat, name
                )
            )
        blocks.append(",\n       ".join(lines) + "\nFROM {0}".format(table))
    union = "\nUNION ALL\n".join(blocks)
    infer = "CASE WHEN n - n_null - n_empty = 0 THEN 'empty'\n"
    for name, _ in LEXICAL_CLASSES:
        infer += (
            "     WHEN n_{0} = n - n_null - n_empty THEN '{0}'\n".format(name)
        )
    infer += "     ELSE 'string' END AS inferred_type"
    class_cols = ", ".join("n_" + name for name, _ in LEXICAL_CLASSES)
    return (
        'SELECT "column", n, n_null, n_empty, {0},\n{1}\nFROM (\n{2}\n)'
    ).format(class_cols, infer, union)


def oracle_sql() -> dict[str, str]:
    return {
        "wide_stats_documents": """
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_lang,
                   COUNT(DISTINCT lang) AS n_distinct_lang,
                   MIN(n_chars) AS min_chars,
                   MAX(n_chars) AS max_chars,
                   ROUND(AVG(n_chars), 2) AS avg_chars
            FROM documents GROUP BY source
        """,
        "tpch_q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "uniqueness_surplus": """
            SELECT l_orderkey AS dup_key, CAST(COUNT(*) - 1 AS BIGINT) AS surplus
            FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1
        """,
        "referential_orphans": """
            -- engine uses left_anti, which keeps NULL-FK rows as orphans;
            -- SQL NOT IN would silently drop them if NULLs ever appear
            SELECT o_orderkey FROM orders
            WHERE o_custkey IS NULL
               OR o_custkey NOT IN (SELECT c_custkey FROM customer)
        """,
        "set_extra_values": """
            SELECT DISTINCT c_mktsegment AS value FROM customer
            WHERE c_mktsegment NOT IN
                  ('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD')
        """,
        "set_missing_required": """
            SELECT v.value FROM (VALUES ('AUTOMOBILE'), ('MACHINERY'),
                                        ('AEROSPACE')) AS v(value)
            WHERE v.value NOT IN (SELECT DISTINCT c_mktsegment FROM customer)
        """,
        "interval_deviations": """
            SELECT l_orderkey, l_linenumber, l_quantity AS value,
                   CASE WHEN l_quantity < 2 THEN l_quantity - 2
                        ELSE l_quantity - 49 END AS deviation
            FROM lineitem WHERE l_quantity < 2 OR l_quantity > 49
        """,
        "negative_balance_deviation": """
            SELECT c_custkey, c_acctbal AS value, c_acctbal AS deviation
            FROM customer WHERE c_acctbal < 0
        """,
        "regex_invalid": """
            SELECT event_id FROM events
            WHERE NOT regexp_matches(props, '"k": \\d+')
        """,
        "json_extract_stats": """
            SELECT event_type, COUNT(*) AS n,
                   ROUND(AVG(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT)), 2) AS avg_k,
                   MIN(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT)) AS min_k,
                   MAX(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT)) AS max_k
            FROM events GROUP BY event_type
        """,
        "topk_per_group": """
            SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
                SELECT o_orderpriority, o_orderkey, o_totalprice,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey ASC
                       ) AS INT) AS rn
                FROM orders
            ) WHERE rn <= 3
        """,
        "histogram_n_chars": """
            SELECT source,
                   CAST(LEAST(GREATEST(FLOOR(n_chars / 100.0), 0), 9) AS INT) AS bucket,
                   COUNT(*) AS n
            FROM documents GROUP BY 1, 2
        """,
        "consistency_verdicts": """
            SELECT source, n_rows, n_violations,
                   CASE WHEN n_violations > 0 THEN 'fail' ELSE 'pass' END AS status
            FROM (
                SELECT source, COUNT(*) AS n_rows,
                       CAST(SUM(CASE WHEN n_chars <> LENGTH(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
                FROM documents GROUP BY source
            )
        """,
        "freshness_events": """
            SELECT event_type,
                   MIN(epoch_ms(ts)) AS min_ts_ms,
                   MAX(epoch_ms(ts)) AS max_ts_ms,
                   COUNT(*) AS n
            FROM events GROUP BY event_type
        """,
        "freshness_gate": """
            -- the engine also flags all-NULL-timestamp partitions
            -- (max IS NULL), with deviation from a 0 epoch
            SELECT 'event_type=' || event_type AS partition_key,
                   'deviation' AS kind,
                   MAX(epoch_ms(ts)) AS max_ts_ms,
                   COALESCE(MAX(epoch_ms(ts)), 0) - 1706658000000 AS lag_ms
            FROM events GROUP BY event_type
            HAVING MAX(epoch_ms(ts)) < 1706658000000
                OR MAX(epoch_ms(ts)) IS NULL
        """,
        "join_revenue": """
            SELECT o_orderpriority,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(DISTINCT o_orderkey) AS n_orders
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "suite_verdicts": """
            WITH pk AS (
                SELECT DISTINCT 'source=' || source AS partition_key FROM documents
            ),
            uniq AS (
                SELECT 'source=' || source AS partition_key,
                       CAST(SUM(c - 1) AS BIGINT) AS n_violations
                FROM (SELECT source, doc_id, COUNT(*) AS c FROM documents
                      GROUP BY source, doc_id HAVING COUNT(*) > 1)
                GROUP BY source
            ),
            refv AS (
                SELECT 'source=' || source AS partition_key,
                       CAST(COUNT(*) AS BIGINT) AS n_violations
                FROM documents
                -- ReferentialCheck's fused condition is ~isin | isNull:
                -- NULL membership values count as violations
                WHERE lang IS NULL OR lang NOT IN ('en', 'es', 'de', 'fr', 'zh')
                GROUP BY source
            )
            SELECT p.partition_key, 'uniqueness' AS check_id,
                   CASE WHEN COALESCE(u.n_violations, 0) > 0
                        THEN 'fail' ELSE 'pass' END AS status,
                   CAST(COALESCE(u.n_violations, 0) AS BIGINT) AS n_violations
            FROM pk p LEFT JOIN uniq u USING (partition_key)
            UNION ALL
            SELECT p.partition_key, 'referential' AS check_id,
                   CASE WHEN COALESCE(r.n_violations, 0) > 0
                        THEN 'fail' ELSE 'pass' END AS status,
                   CAST(COALESCE(r.n_violations, 0) AS BIGINT) AS n_violations
            FROM pk p LEFT JOIN refv r USING (partition_key)
        """,
        "token_counts": """
            SELECT doc_id, CAST(LEN(string_split(text, ' ')) AS INT) AS n_words
            FROM documents
        """,
        "regex_token_counts": """
            SELECT doc_id,
                   CAST(LEN(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens
            FROM documents
        """,
        "quality_profile": """
            SELECT source, COUNT(*) AS n_docs,
                   ROUND(AVG(LEN(string_split(text, ' '))), 4) AS avg_words,
                   ROUND(AVG(LENGTH(text)), 4) AS avg_chars,
                   ROUND(AVG({q}), 4) AS avg_quality
            FROM documents GROUP BY source
        """.format(q=_QUALITY_EXPR),
        "langid_confusion": """
            WITH {cte}
            SELECT lang, predicted, COUNT(*) AS n FROM PRED GROUP BY lang, predicted
        """.format(cte=_LANGID_SQL),
        "exact_dup_groups": """
            SELECT md5(text) AS content_hash, COUNT(*) AS n_docs
            FROM documents GROUP BY 1 HAVING COUNT(*) > 1
        """,
        "fingerprints": """
            SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id < 100
        """,
        "simhash_md5_signatures": """
            WITH W AS (
                SELECT doc_id, string_split(text, ' ') AS w
                FROM documents WHERE doc_id < 50 AND text IS NOT NULL
            ),
            S AS (
                SELECT DISTINCT doc_id, array_to_string(w[i : i + 2], ' ') AS shingle
                FROM W, UNNEST(range(1, GREATEST(len(w) - 1, 2))) AS t(i)
            ),
            H AS (SELECT doc_id, substr(md5(shingle), 1, 15) AS hx FROM S),
            -- bit j of the 60-bit value lives in hex digit 15 - j//4
            -- (1-based, leftmost most significant), sub-bit j%4
            B AS (
                SELECT doc_id, j,
                       SUM(CASE WHEN ((strpos('0123456789abcdef',
                                              substr(hx, CAST(15 - j // 4 AS INT), 1)) - 1)
                                      >> CAST(j % 4 AS INT)) & 1 = 1
                                THEN 1 ELSE -1 END) AS vote
                FROM H, UNNEST(range(60)) AS t(j)
                GROUP BY doc_id, j
            )
            SELECT doc_id,
                   CAST(SUM(CASE WHEN vote > 0
                                 THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
                                 ELSE 0 END) AS BIGINT) AS simhash60
            FROM B GROUP BY doc_id
        """,
        "winnow_fingerprints": """
            WITH W AS (
                SELECT doc_id, string_split(text, ' ') AS w
                FROM documents WHERE doc_id < 200 AND text IS NOT NULL
            ),
            SH AS (
                SELECT doc_id, i, array_to_string(w[i : i + 4], ' ') AS shingle
                FROM W, UNNEST(range(1, GREATEST(len(w) - 3, 2))) AS t(i)
            ),
            -- dedupe shingles keeping first-occurrence order (Spark's
            -- array_distinct semantics), then hash
            FIRSTPOS AS (
                SELECT doc_id, shingle, MIN(i) AS fi
                FROM SH GROUP BY doc_id, shingle
            ),
            ORD AS (
                SELECT doc_id, md5(shingle) AS h,
                       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fi) AS rn,
                       COUNT(*) OVER (PARTITION BY doc_id) AS n
                FROM FIRSTPOS
            ),
            STARTS AS (
                SELECT doc_id, s
                FROM (SELECT DISTINCT doc_id, n FROM ORD),
                     UNNEST(range(1, GREATEST(n - 2, 2))) AS t(s)
            ),
            MINS AS (
                SELECT st.doc_id, st.s, MIN(o.h) AS fp
                FROM STARTS st
                JOIN ORD o ON o.doc_id = st.doc_id
                          AND o.rn BETWEEN st.s AND st.s + 3
                GROUP BY st.doc_id, st.s
            )
            SELECT DISTINCT doc_id, fp FROM MINS
        """,
        "minhash_signatures": """
            WITH {cte}
            SELECT doc_id,
                   MIN(md5(shingle || '#0')) AS mh0,
                   MIN(md5(shingle || '#1')) AS mh1,
                   MIN(md5(shingle || '#2')) AS mh2,
                   MIN(md5(shingle || '#3')) AS mh3
            FROM S WHERE doc_id < 50 GROUP BY doc_id
        """.format(cte=_SHINGLE_CTE),
        "jaccard_pairs": """
            WITH {cte},
            -- mirrors the engine's df_cap=1000 hot-shingle guard: shingles
            -- shared by >cap docs are dropped from sizes AND intersections
            SC AS (
                SELECT doc_id, shingle FROM S
                WHERE shingle IN (SELECT shingle FROM S
                                  GROUP BY shingle HAVING COUNT(*) <= 1000)
            ),
            SZ AS (SELECT doc_id, COUNT(*) AS n_sh FROM SC GROUP BY doc_id),
            INTER AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
                FROM SC a JOIN SC b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   ROUND(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
            FROM INTER
            JOIN SZ sa ON sa.doc_id = doc_a
            JOIN SZ sb ON sb.doc_id = doc_b
            WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
        """.format(cte=_SHINGLE_CTE),
        "minhash_error_audit": """
            WITH {cte},
            SC AS (
                SELECT doc_id, shingle FROM S
                WHERE shingle IN (SELECT shingle FROM S
                                  GROUP BY shingle HAVING COUNT(*) <= 1000)
            ),
            SZ AS (SELECT doc_id, COUNT(*) AS n_sh FROM SC GROUP BY doc_id),
            INTER AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       COUNT(*) AS n_inter
                FROM SC a
                JOIN SC b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            P AS (
                SELECT doc_a, doc_b,
                       n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) AS j
                FROM INTER
                JOIN SZ sa ON sa.doc_id = doc_a
                JOIN SZ sb ON sb.doc_id = doc_b
                WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
            ),
            SIG AS (
                SELECT doc_id,
                       MIN(md5(shingle || '#0')) AS mh0,
                       MIN(md5(shingle || '#1')) AS mh1,
                       MIN(md5(shingle || '#2')) AS mh2,
                       MIN(md5(shingle || '#3')) AS mh3,
                       MIN(md5(shingle || '#4')) AS mh4,
                       MIN(md5(shingle || '#5')) AS mh5,
                       MIN(md5(shingle || '#6')) AS mh6,
                       MIN(md5(shingle || '#7')) AS mh7
                FROM SC GROUP BY doc_id
            )
            SELECT doc_a, doc_b, ROUND(j, 4) AS jaccard,
                   ROUND(((sa.mh0 = sb.mh0)::INT + (sa.mh1 = sb.mh1)::INT
                        + (sa.mh2 = sb.mh2)::INT + (sa.mh3 = sb.mh3)::INT
                        + (sa.mh4 = sb.mh4)::INT + (sa.mh5 = sb.mh5)::INT
                        + (sa.mh6 = sb.mh6)::INT + (sa.mh7 = sb.mh7)::INT
                         ) / 8.0, 4) AS estimate,
                   ROUND(ABS(j - ((sa.mh0 = sb.mh0)::INT
                        + (sa.mh1 = sb.mh1)::INT + (sa.mh2 = sb.mh2)::INT
                        + (sa.mh3 = sb.mh3)::INT + (sa.mh4 = sb.mh4)::INT
                        + (sa.mh5 = sb.mh5)::INT + (sa.mh6 = sb.mh6)::INT
                        + (sa.mh7 = sb.mh7)::INT) / 8.0), 4) AS abs_err
            FROM P
            JOIN SIG sa ON sa.doc_id = doc_a
            JOIN SIG sb ON sb.doc_id = doc_b
        """.format(cte=_SHINGLE_CTE),
        "heaps_fit": """
            WITH D AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ),
            MX AS (SELECT MAX(doc_id) AS mx FROM D),
            B AS (
                SELECT doc_id, w,
                       CAST(FLOOR(doc_id * 10 / (mx + 1)) AS INT) AS bucket
                FROM D, MX
            ),
            TK AS (
                SELECT bucket, SUM(len(w)) AS n_tokens FROM B GROUP BY bucket
            ),
            FV AS (
                SELECT bucket, COUNT(*) AS new_vocab FROM (
                    SELECT wrd, MIN(bucket) AS bucket FROM (
                        SELECT bucket, UNNEST(list_distinct(w)) AS wrd
                        FROM B
                    ) GROUP BY wrd
                ) GROUP BY bucket
            ),
            CURVE AS (
                SELECT tk.bucket,
                       SUM(tk.n_tokens) OVER (ORDER BY tk.bucket)
                           AS cum_tokens,
                       SUM(COALESCE(fv.new_vocab, 0))
                           OVER (ORDER BY tk.bucket) AS cum_vocab
                FROM TK tk LEFT JOIN FV fv USING (bucket)
            ),
            M AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS k,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx,
                       CAST(SUM(y * y) AS BIGINT) AS syy
                FROM (
                    SELECT CAST(FLOOR(LOG2(cum_tokens) * 1024) AS BIGINT)
                               AS x,
                           CAST(FLOOR(LOG2(cum_vocab) * 1024) AS BIGINT)
                               AS y
                    FROM CURVE
                    WHERE cum_tokens > 0 AND cum_vocab > 0
                )
            )
            SELECT bucket, CAST(cum_tokens AS BIGINT) AS cum_tokens,
                   CAST(cum_vocab AS BIGINT) AS cum_vocab,
                   CASE WHEN k * sxx - sx * sx > 0 THEN
                       ROUND(CAST(k * sxy - sx * sy AS DOUBLE)
                             / CAST(k * sxx - sx * sx AS DOUBLE), 4)
                   END AS beta,
                   CASE WHEN k * sxx - sx * sx > 0
                             AND k * syy - sy * sy > 0 THEN
                       ROUND(CAST(k * sxy - sx * sy AS DOUBLE)
                             * CAST(k * sxy - sx * sy AS DOUBLE)
                             / (CAST(k * sxx - sx * sx AS DOUBLE)
                                * CAST(k * syy - sy * sy AS DOUBLE)), 4)
                   END AS r2
            FROM CURVE, M
        """,
        "dup_ngram_fraction": """
            WITH {cte},
            DF_ AS (SELECT shingle, COUNT(*) AS df FROM S GROUP BY shingle),
            PD AS (
                SELECT s.doc_id, COUNT(*) AS n_sh,
                       SUM(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS n_dup
                FROM S s JOIN DF_ d USING (shingle) GROUP BY s.doc_id
            )
            SELECT doc.source AS source, COUNT(*) AS n_docs,
                   ROUND(AVG(n_dup * 1.0 / n_sh), 6) AS mean_dup_frac,
                   ROUND(SUM(n_dup) * 1.0 / SUM(n_sh), 6)
                       AS pooled_dup_share
            FROM PD JOIN documents doc USING (doc_id)
            GROUP BY doc.source
        """.format(cte=_SHINGLE_CTE),
        "fuzzy_dup_pairs": """
            -- q-gram candidate generation is LOSSLESS on the operator's
            -- documented domain (keys of length >= q + q*d = 15), so
            -- the truth is the plain all-pairs join over that domain
            WITH K AS (
                SELECT doc_id, substr(text, 1, 32) AS key FROM documents
                WHERE text IS NOT NULL AND len(substr(text, 1, 32)) >= 15
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(len(a.key) AS INT) AS len_a,
                   CAST(len(b.key) AS INT) AS len_b,
                   CAST(levenshtein(a.key, b.key) AS INT) AS distance
            FROM K a JOIN K b ON a.doc_id < b.doc_id
            WHERE ABS(len(a.key) - len(b.key)) <= 4
              AND levenshtein(a.key, b.key) <= 4
        """,
        "quantile_shift": """
            WITH GQ AS (
                SELECT COALESCE(CAST(source AS VARCHAR), '__null__') AS grp,
                       quantile_cont(CAST(n_chars AS DOUBLE),
                                     [0.1, 0.25, 0.5, 0.75, 0.9]) AS gq
                FROM documents WHERE n_chars IS NOT NULL
                GROUP BY 1
            ),
            B AS (SELECT gq AS bq FROM GQ WHERE grp = 'src0'),
            Q AS (
                SELECT * FROM (VALUES
                    (1, CAST(0.1 AS DOUBLE)), (2, CAST(0.25 AS DOUBLE)),
                    (3, CAST(0.5 AS DOUBLE)), (4, CAST(0.75 AS DOUBLE)),
                    (5, CAST(0.9 AS DOUBLE))) AS t(i, quantile)
            )
            SELECT grp AS "group", quantile,
                   ROUND(gq[i], 4) AS group_value,
                   ROUND(bq[i], 4) AS baseline_value,
                   ROUND(gq[i] - bq[i], 4) AS shift
            FROM GQ CROSS JOIN B CROSS JOIN Q
        """,
        "percentile_rank": """
            SELECT doc_id, source, n_chars,
                   ROUND(CUME_DIST() OVER (
                       PARTITION BY source
                       ORDER BY CAST(n_chars AS DOUBLE)
                   ), 6) AS pct_rank
            FROM documents WHERE n_chars IS NOT NULL
            UNION ALL
            SELECT doc_id, source, n_chars, CAST(NULL AS DOUBLE)
            FROM documents WHERE n_chars IS NULL
        """,
        "freq_spectrum": """
            WITH T AS (
                SELECT source, UNNEST(string_split(text, ' ')) AS tok
                FROM documents
            ),
            C AS (
                SELECT source, tok, COUNT(*) AS r FROM T
                WHERE tok IS NOT NULL AND tok <> '' GROUP BY 1, 2
            ),
            B AS (
                -- floor(log2(r)) as integer bit-length, same as Spark
                SELECT source,
                       CAST(LENGTH(bin(r)) - 1 AS INT) AS freq_bucket, r
                FROM C
            )
            SELECT source, freq_bucket,
                   CAST(1 AS BIGINT) << freq_bucket AS min_count,
                   CAST(COUNT(*) AS BIGINT) AS n_types,
                   CAST(SUM(r) AS BIGINT) AS token_mass
            FROM B GROUP BY 1, 2
        """,
        "jaccard_sweep": """
            WITH {cte},
            SC AS (
                SELECT doc_id, shingle FROM S
                WHERE shingle IN (SELECT shingle FROM S
                                  GROUP BY shingle HAVING COUNT(*) <= 1000)
            ),
            SZ AS (SELECT doc_id, COUNT(*) AS n_sh FROM SC GROUP BY doc_id),
            INTER AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       COUNT(*) AS n_inter
                FROM SC a
                JOIN SC b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            P AS (
                SELECT doc_a, doc_b,
                       n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) AS j
                FROM INTER
                JOIN SZ sa ON sa.doc_id = doc_a
                JOIN SZ sb ON sb.doc_id = doc_b
                WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.3
            ),
            T AS (SELECT UNNEST([0.3, 0.5, 0.7, 0.9]::DOUBLE[])
                      AS threshold),
            SW AS (
                SELECT t.threshold, p.doc_a, p.doc_b
                FROM T t JOIN P p ON p.j >= t.threshold
            ),
            PC AS (SELECT threshold, COUNT(*) AS n_pairs
                   FROM SW GROUP BY 1),
            DC AS (
                SELECT threshold, COUNT(DISTINCT doc_id) AS n_docs FROM (
                    SELECT threshold, doc_a AS doc_id FROM SW
                    UNION ALL
                    SELECT threshold, doc_b FROM SW
                ) GROUP BY 1
            )
            SELECT t.threshold,
                   CAST(COALESCE(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
                   CAST(COALESCE(dc.n_docs, 0) AS BIGINT) AS n_docs
            FROM T t
            LEFT JOIN PC pc ON pc.threshold = t.threshold
            LEFT JOIN DC dc ON dc.threshold = t.threshold
        """.format(cte=_SHINGLE_CTE),
        "chain_collapse": """
            WITH {cte},
            SC AS (
                SELECT doc_id, shingle FROM S
                WHERE shingle IN (SELECT shingle FROM S
                                  GROUP BY shingle HAVING COUNT(*) <= 1000)
            ),
            SZ AS (SELECT doc_id, COUNT(*) AS n_sh FROM SC GROUP BY doc_id),
            INTER AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       COUNT(*) AS n_inter
                FROM SC a
                JOIN SC b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            E AS (
                SELECT doc_a, doc_b
                FROM INTER
                JOIN SZ sa ON sa.doc_id = doc_a
                JOIN SZ sb ON sb.doc_id = doc_b
                WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
            ),
            SYM AS (
                SELECT doc_a AS src, doc_b AS dst FROM E
                UNION ALL
                SELECT doc_b, doc_a FROM E
            ),
            WG AS (
                SELECT x.src AS a, y.dst AS c
                FROM SYM x JOIN SYM y
                  ON x.dst = y.src AND x.src < y.dst
            ),
            CL AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_wedges,
                       CAST(COALESCE(SUM(
                           CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END
                       ), 0) AS BIGINT) AS n_closed
                FROM WG w
                LEFT JOIN E e ON e.doc_a = w.a AND e.doc_b = w.c
            )
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM E) AS n_edges,
                   n_wedges, n_closed,
                   ROUND(CASE WHEN n_wedges > 0
                              THEN n_closed * 1.0 / n_wedges END, 4)
                       AS transitivity
            FROM CL
        """.format(cte=_SHINGLE_CTE),
        "band_migration": """
            WITH OLDS AS (
                SELECT doc_id, source, n_chars AS score FROM documents
            ),
            NEWS AS (
                SELECT doc_id, source,
                       CASE WHEN doc_id % 5 = 0 THEN n_chars * 2
                            ELSE n_chars END AS score
                FROM documents WHERE doc_id % 17 <> 0
                UNION ALL
                SELECT doc_id + 1000000000, source, n_chars
                FROM documents WHERE doc_id % 13 = 0
            ),
            OB AS (
                SELECT doc_id, source,
                       NTILE(4) OVER (
                           PARTITION BY source
                           ORDER BY score ASC NULLS FIRST, doc_id ASC
                       ) AS band_old
                FROM OLDS
            ),
            NB AS (
                SELECT doc_id, source,
                       NTILE(4) OVER (
                           PARTITION BY source
                           ORDER BY score ASC NULLS FIRST, doc_id ASC
                       ) AS band_new
                FROM NEWS
            ),
            J AS (
                SELECT COALESCE(CAST(o.source AS VARCHAR),
                                CAST(n.source AS VARCHAR),
                                '__null__') AS grp,
                       o.band_old, n.band_new
                FROM OB o FULL OUTER JOIN NB n ON o.doc_id = n.doc_id
            ),
            A AS (
                SELECT grp, band_old, band_new, COUNT(*) AS n
                FROM J GROUP BY 1, 2, 3
            )
            SELECT grp AS "group",
                   CAST(band_old AS INT) AS band_old,
                   CAST(band_new AS INT) AS band_new,
                   CAST(n AS BIGINT) AS n,
                   ROUND(n * 1.0 / SUM(n) OVER (
                       PARTITION BY grp, band_old), 6) AS frac
            FROM A
        """,
        "schema_drift": """
            WITH C AS (
                SELECT COUNT(*) AS n,
                       COUNT(doc_id) AS c_doc_id,
                       COUNT(text) AS c_text,
                       COUNT(lang) AS c_lang,
                       COUNT(source) AS c_source,
                       COUNT(n_chars) AS c_n_chars,
                       COUNT(CAST(n_chars AS DOUBLE) / 1000.0)
                           AS c_quality
                FROM documents
            ),
            R AS (
                SELECT column_name, status, old_class, new_class,
                       CASE WHEN n > 0 AND has_old
                            THEN ROUND((n - c_old) * 1.0 / n, 6)
                       END AS old_null_rate,
                       CASE WHEN n > 0 AND has_new
                            THEN ROUND((n - c_new) * 1.0 / n, 6)
                       END AS new_null_rate
                FROM (
                    SELECT 'doc_id' AS column_name, 'kept' AS status,
                           'integer' AS old_class, 'integer' AS new_class,
                           TRUE AS has_old, TRUE AS has_new,
                           c_doc_id AS c_old, c_doc_id AS c_new, n FROM C
                    UNION ALL
                    SELECT 'lang', 'removed', 'string', NULL,
                           TRUE, FALSE, c_lang, NULL, n FROM C
                    UNION ALL
                    SELECT 'n_chars', 'type_changed', 'integer', 'float',
                           TRUE, TRUE, c_n_chars, c_n_chars, n FROM C
                    UNION ALL
                    SELECT 'quality_score', 'added', NULL, 'float',
                           FALSE, TRUE, NULL, c_quality, n FROM C
                    UNION ALL
                    SELECT 'source', 'kept', 'string', 'string',
                           TRUE, TRUE, c_source, c_source, n FROM C
                    UNION ALL
                    SELECT 'text', 'kept', 'string', 'string',
                           TRUE, TRUE, c_text, c_text, n FROM C
                )
            )
            SELECT column_name AS "column", status, old_class, new_class,
                   old_null_rate, new_null_rate,
                   CASE WHEN old_null_rate IS NOT NULL
                             AND new_null_rate IS NOT NULL
                        THEN ROUND(new_null_rate - old_null_rate, 6)
                   END AS null_rate_delta
            FROM R
        """,
        "series_autocorr": """
            WITH D AS (
                SELECT COALESCE(CAST(event_type AS VARCHAR), '__null__')
                           AS g,
                       CAST(FLOOR(epoch_ms(ts) / 86400000) AS BIGINT)
                           AS day,
                       COUNT(*) AS n
                FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
            ),
            L AS (
                SELECT g,
                       CAST(FLOOR(CAST(n AS DOUBLE) * 1.0) AS BIGINT) AS x,
                       LAG(CAST(FLOOR(CAST(n AS DOUBLE) * 1.0) AS BIGINT),
                           1) OVER w AS y1,
                       LAG(CAST(FLOOR(CAST(n AS DOUBLE) * 1.0) AS BIGINT),
                           2) OVER w AS y2,
                       LAG(CAST(FLOOR(CAST(n AS DOUBLE) * 1.0) AS BIGINT),
                           7) OVER w AS y7
                FROM D WINDOW w AS (PARTITION BY g ORDER BY day ASC)
            ),
            P AS (
                SELECT g, lv.lag,
                       x,
                       CASE lv.lag WHEN 1 THEN y1 WHEN 2 THEN y2
                            ELSE y7 END AS y
                FROM L, (VALUES (1), (2), (7)) AS lv(lag)
            ),
            A AS (
                SELECT g, lag, COUNT(*) AS np,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx,
                       CAST(SUM(y * y) AS BIGINT) AS syy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy
                FROM P WHERE y IS NOT NULL GROUP BY 1, 2
            ),
            M AS (
                SELECT g, lag, np,
                       CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                           AS num,
                       CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                           AS dx,
                       CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                           AS dy
                FROM A
            )
            SELECT g AS "group", CAST(lag AS INT) AS lag,
                   CAST(np AS BIGINT) AS n_pairs,
                   ROUND(CASE WHEN np >= 2 AND dx > 0 AND dy > 0
                              THEN num / SQRT(dx * dy) END, 6) AS autocorr
            FROM M
        """,
        "prefix_jaccard_pairs": """
            WITH {cte},
            -- prefix filtering is LOSSLESS: the oracle is the plain
            -- capped exact join at the same (k=5, t=0.6, cap=1000)
            SC AS (
                SELECT doc_id, shingle FROM S
                WHERE shingle IN (SELECT shingle FROM S
                                  GROUP BY shingle HAVING COUNT(*) <= 1000)
            ),
            SZ AS (SELECT doc_id, COUNT(*) AS n_sh FROM SC GROUP BY doc_id),
            INTER AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
                FROM SC a JOIN SC b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   ROUND(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
            FROM INTER
            JOIN SZ sa ON sa.doc_id = doc_a
            JOIN SZ sb ON sb.doc_id = doc_b
            WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
        """.format(cte=_SHINGLE_CTE),
        "dedup_cluster_labels": """
            WITH RECURSIVE {cte},
            SC AS (
                SELECT doc_id, shingle FROM S
                WHERE shingle IN (SELECT shingle FROM S
                                  GROUP BY shingle HAVING COUNT(*) <= 1000)
            ),
            SZ AS (SELECT doc_id, COUNT(*) AS n_sh FROM SC GROUP BY doc_id),
            INTER AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
                FROM SC a JOIN SC b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            P AS (
                SELECT doc_a, doc_b FROM INTER
                JOIN SZ sa ON sa.doc_id = doc_a
                JOIN SZ sb ON sb.doc_id = doc_b
                WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
            ),
            E AS (
                SELECT doc_a AS src, doc_b AS dst FROM P
                UNION SELECT doc_b, doc_a FROM P
            ),
            REACH(id, r) AS (
                SELECT src, src FROM E
                UNION
                SELECT e.src, REACH.r FROM E e JOIN REACH ON e.dst = REACH.id
            )
            SELECT id AS doc_id, MIN(r) AS cluster_id FROM REACH GROUP BY id
        """.format(cte=_SHINGLE_CTE),
        "exact_quantiles": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(l_quantity, 0.25), 4) AS q25,
                   ROUND(quantile_cont(l_quantity, 0.5), 4) AS q50,
                   ROUND(quantile_cont(l_quantity, 0.75), 4) AS q75,
                   ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "lsh_candidate_pairs": """
            WITH {cte},
            SIG AS (
                SELECT doc_id,
                       MIN(md5(shingle || '#0')) AS mh0,
                       MIN(md5(shingle || '#1')) AS mh1,
                       MIN(md5(shingle || '#2')) AS mh2,
                       MIN(md5(shingle || '#3')) AS mh3,
                       MIN(md5(shingle || '#4')) AS mh4,
                       MIN(md5(shingle || '#5')) AS mh5,
                       MIN(md5(shingle || '#6')) AS mh6,
                       MIN(md5(shingle || '#7')) AS mh7
                FROM S GROUP BY doc_id
            ),
            BK AS (
                SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS key FROM SIG
                UNION ALL SELECT doc_id, 1, mh2 || '|' || mh3 FROM SIG
                UNION ALL SELECT doc_id, 2, mh4 || '|' || mh5 FROM SIG
                UNION ALL SELECT doc_id, 3, mh6 || '|' || mh7 FROM SIG
            ),
            CAND AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM BK a
                JOIN BK b ON a.band = b.band AND a.key = b.key
                         AND a.doc_id < b.doc_id
            ),
            SC AS (
                SELECT doc_id, shingle FROM S
                WHERE shingle IN (SELECT shingle FROM S
                                  GROUP BY shingle HAVING COUNT(*) <= 1000)
            ),
            SZ AS (SELECT doc_id, COUNT(*) AS n_sh FROM SC GROUP BY doc_id),
            INTER AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
                FROM SC a JOIN SC b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            J AS (
                SELECT doc_a, doc_b,
                       ROUND(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
                FROM INTER
                JOIN SZ sa ON sa.doc_id = doc_a
                JOIN SZ sb ON sb.doc_id = doc_b
                WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
            )
            SELECT c.doc_a, c.doc_b, j.jaccard
            FROM CAND c JOIN J j USING (doc_a, doc_b)
        """.format(cte=_SHINGLE_CTE),
        "drift_psi": """
            WITH B AS (
                SELECT source,
                       CAST(LEAST(GREATEST(FLOOR(n_chars / 100.0), 0), 9) AS INT) AS bucket
                FROM documents
            ),
            SB AS (SELECT source, bucket, COUNT(*) AS n_sb FROM B GROUP BY 1, 2),
            S AS (SELECT source, COUNT(*) AS n_s FROM B GROUP BY 1),
            GB AS (SELECT bucket, COUNT(*) AS n_b FROM B GROUP BY 1),
            TOT AS (SELECT COUNT(*) AS n FROM B),
            GRID AS (
                SELECT s.source, t.bucket
                FROM (SELECT DISTINCT source FROM B) s
                CROSS JOIN (SELECT UNNEST(range(0, 10))::INT AS bucket) t
            ),
            PQ AS (
                SELECT g.source, g.bucket,
                       COALESCE(sb.n_sb, 0) * 1.0 / s.n_s AS p,
                       COALESCE(gb.n_b, 0) * 1.0 / (SELECT n FROM TOT) AS q
                FROM GRID g
                LEFT JOIN SB sb ON sb.source = g.source AND sb.bucket = g.bucket
                JOIN S s ON s.source = g.source
                LEFT JOIN GB gb ON gb.bucket = g.bucket
            )
            SELECT source,
                   ROUND(SUM((GREATEST(p, 1e-9) - GREATEST(q, 1e-9))
                             * LN(GREATEST(p, 1e-9) / GREATEST(q, 1e-9))), 4) AS psi
            FROM PQ GROUP BY source
        """,
        "sessionization": """
            WITH G AS (
                SELECT user_id, epoch_ms(ts) AS ts_ms,
                       LAG(epoch_ms(ts)) OVER (
                           PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                       ) AS prev_ms
                FROM events
            )
            SELECT user_id,
                   CAST(SUM(CASE WHEN prev_ms IS NULL
                                 OR ts_ms - prev_ms > 1800000
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                   COUNT(*) AS n_events
            FROM G GROUP BY user_id
        """,
        "volume_anomalies": """
            WITH D AS (
                SELECT event_type,
                       CAST(FLOOR(epoch_ms(ts) / 86400000) AS BIGINT)
                           AS day,
                       COUNT(*) AS n
                FROM events GROUP BY 1, 2
            ),
            MED AS (
                SELECT event_type,
                       quantile_cont(CAST(n AS DOUBLE), 0.5) AS med
                FROM D GROUP BY event_type
            ),
            WM AS (
                SELECT d.day, d.event_type, CAST(d.n AS DOUBLE) AS x,
                       m.med
                FROM D d JOIN MED m USING (event_type)
            ),
            MADT AS (
                SELECT event_type,
                       quantile_cont(ABS(x - med), 0.5) AS mad
                FROM WM GROUP BY event_type
            )
            SELECT w.day, w.event_type, CAST(w.x AS BIGINT) AS n_rows,
                   ROUND(w.med, 6) AS med,
                   ROUND(a.mad, 6) AS mad,
                   ROUND((w.x - w.med) / (1.4826 * a.mad), 4) AS robust_z
            FROM WM w JOIN MADT a USING (event_type)
            WHERE a.mad > 0
              AND ABS((w.x - w.med) / (1.4826 * a.mad)) > 2.0
        """,
        "sample_rate_audit": """
            WITH R AS (
                SELECT doc_id, source,
                       CASE source
                           WHEN 'src0' THEN 0.25
                           WHEN 'src1' THEN 0.5
                           ELSE 0.1
                       END AS rate
                FROM documents
            ),
            KEPT AS (
                SELECT source FROM R
                WHERE (CAST(CONCAT('0x',
                          substr(md5(doc_id || '#0#0'), 1, 4))
                          AS INT) / 65536.0) < rate
            ),
            O AS (SELECT source, COUNT(*) AS n_orig
                  FROM documents GROUP BY source),
            S AS (SELECT source, COUNT(*) AS n_sampled
                  FROM KEPT GROUP BY source),
            J AS (
                SELECT o.source AS "group", o.n_orig,
                       COALESCE(s.n_sampled, 0) AS n_sampled,
                       CAST(CASE o.source
                           WHEN 'src0' THEN 0.25
                           WHEN 'src1' THEN 0.5
                           ELSE 0.1
                       END AS DOUBLE) AS p
                FROM O o LEFT JOIN S s ON o.source = s.source
            )
            SELECT "group", n_orig, n_sampled,
                   ROUND(p, 6) AS requested_rate,
                   ROUND(CASE WHEN n_orig > 0 THEN
                         CAST(n_sampled AS DOUBLE)
                         / CAST(n_orig AS DOUBLE) END, 6)
                       AS achieved_rate,
                   ROUND(CASE WHEN p * (1.0 - p)
                                   * CAST(n_orig AS DOUBLE) > 0
                         THEN (CAST(n_sampled AS DOUBLE)
                               - p * CAST(n_orig AS DOUBLE))
                              / SQRT(p * (1.0 - p)
                                     * CAST(n_orig AS DOUBLE)) END, 4)
                       AS z,
                   CASE WHEN n_orig = 0 THEN 'unexpected'
                        WHEN ABS(COALESCE(
                            CASE WHEN p * (1.0 - p)
                                      * CAST(n_orig AS DOUBLE) > 0
                            THEN (CAST(n_sampled AS DOUBLE)
                                  - p * CAST(n_orig AS DOUBLE))
                                 / SQRT(p * (1.0 - p)
                                        * CAST(n_orig AS DOUBLE)) END,
                            0.0)) > 4.0 THEN 'fail'
                        ELSE 'pass'
                   END AS status
            FROM J
        """,
        "ngram_novelty": """
            WITH WN AS (
                -- text IS NOT NULL mirrors the operator's NULL-shingle
                -- filter (GREATEST(len(NULL)-3, 2) = 2 would otherwise
                -- emit one NULL shingle per null-text doc)
                SELECT doc_id, COALESCE(source, '__null__') AS grp,
                       string_split(text, ' ') AS w
                FROM documents
                WHERE doc_id % 2 = 1 AND text IS NOT NULL
            ),
            SN AS (
                SELECT DISTINCT doc_id, grp,
                       array_to_string(w[i : i + 4], ' ') AS shingle
                FROM WN,
                     UNNEST(range(1, GREATEST(len(w) - 3, 2))) AS t(i)
            ),
            WO AS (
                SELECT string_split(text, ' ') AS w
                FROM documents
                WHERE doc_id % 2 = 0 AND text IS NOT NULL
            ),
            SO AS (
                SELECT DISTINCT array_to_string(w[i : i + 4], ' ') AS shingle
                FROM WO,
                     UNNEST(range(1, GREATEST(len(w) - 3, 2))) AS t(i)
            ),
            M AS (
                SELECT sn.grp, sn.doc_id, sn.shingle,
                       (so.shingle IS NOT NULL) AS seen
                FROM SN sn LEFT JOIN SO so USING (shingle)
            ),
            PD AS (
                SELECT grp, doc_id, COUNT(*) AS n_sh,
                       SUM(CASE WHEN NOT seen THEN 1 ELSE 0 END) AS n_nov
                FROM M GROUP BY grp, doc_id
            ),
            GS AS (
                SELECT grp, COUNT(*) AS n_shingles,
                       CAST(SUM(CASE WHEN NOT seen THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_novel
                FROM (SELECT DISTINCT grp, shingle, seen FROM M)
                GROUP BY grp
            ),
            DT AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       COUNT(*) AS n_docs
                FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
            ),
            DF AS (
                SELECT grp,
                       CAST(SUM(CASE WHEN CAST(n_nov AS DOUBLE)
                                      > 0.5 * CAST(n_sh AS DOUBLE)
                                THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_docs_mostly_novel
                FROM PD GROUP BY grp
            )
            SELECT dt.grp AS source, dt.n_docs,
                   COALESCE(gs.n_shingles, 0) AS n_shingles,
                   COALESCE(gs.n_novel, 0) AS n_novel,
                   ROUND(CASE WHEN COALESCE(gs.n_shingles, 0) > 0
                         THEN CAST(gs.n_novel AS DOUBLE)
                              / CAST(gs.n_shingles AS DOUBLE) END, 6)
                       AS novelty_rate,
                   COALESCE(df.n_docs_mostly_novel, 0)
                       AS n_docs_mostly_novel,
                   ROUND(CAST(COALESCE(df.n_docs_mostly_novel, 0)
                              AS DOUBLE) / CAST(dt.n_docs AS DOUBLE), 6)
                       AS mostly_novel_rate
            FROM DT dt
            LEFT JOIN GS gs USING (grp)
            LEFT JOIN DF df USING (grp)
        """,
        "mwu_drift": """
            WITH C AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       CASE WHEN CAST(n_chars AS DOUBLE) < 0.0 THEN 0
                            WHEN CAST(n_chars AS DOUBLE) >= 1000.0 THEN 11
                            ELSE CAST(FLOOR(CAST(n_chars AS DOUBLE) * 10.0
                                            / 1000.0) AS INT) + 1
                       END AS bucket,
                       COUNT(*) AS n
                FROM documents WHERE n_chars IS NOT NULL
                GROUP BY 1, 2
            ),
            G AS (SELECT DISTINCT grp FROM C),
            B AS (SELECT UNNEST(range(0, 12)) AS bucket),
            D AS (
                SELECT g.grp, b.bucket, COALESCE(c.n, 0) AS n
                FROM G g CROSS JOIN B b
                LEFT JOIN C c ON c.grp = g.grp AND c.bucket = b.bucket
            ),
            BASE AS (
                SELECT bucket, n AS m,
                       SUM(n) OVER (ORDER BY bucket) - n AS m_below
                FROM D WHERE grp = 'src0'
            ),
            T AS (
                SELECT d.grp, d.bucket, d.n, b.m, b.m_below,
                       CAST(d.n AS DOUBLE)
                           * (2.0 * CAST(b.m_below AS DOUBLE)
                              + CAST(b.m AS DOUBLE)) AS u2t,
                       (CAST(d.n AS DOUBLE) + CAST(b.m AS DOUBLE))
                         * (CAST(d.n AS DOUBLE) + CAST(b.m AS DOUBLE))
                         * (CAST(d.n AS DOUBLE) + CAST(b.m AS DOUBLE))
                       - (CAST(d.n AS DOUBLE) + CAST(b.m AS DOUBLE))
                           AS tiet
                FROM D d JOIN BASE b USING (bucket)
            ),
            A AS (
                SELECT grp,
                       CAST(SUM(n) AS BIGINT) AS n,
                       CAST(SUM(m) AS BIGINT) AS m,
                       SUM(u2t ORDER BY bucket) AS u2,
                       SUM(tiet ORDER BY bucket) AS ties
                FROM T GROUP BY grp
            )
            SELECT grp AS source, n, m,
                   ROUND(u2 / 2.0, 2) AS u,
                   ROUND(CASE WHEN n > 0 AND m > 0 AND
                           (CAST(n AS DOUBLE) * CAST(m AS DOUBLE) / 12.0)
                           * ((CAST(n AS DOUBLE) + CAST(m AS DOUBLE) + 1.0)
                              - ties / ((CAST(n AS DOUBLE)
                                         + CAST(m AS DOUBLE))
                                        * (CAST(n AS DOUBLE)
                                           + CAST(m AS DOUBLE) - 1.0))) > 0
                         THEN (u2 / 2.0
                               - CAST(n AS DOUBLE) * CAST(m AS DOUBLE) / 2.0)
                              / SQRT(
                           (CAST(n AS DOUBLE) * CAST(m AS DOUBLE) / 12.0)
                           * ((CAST(n AS DOUBLE) + CAST(m AS DOUBLE) + 1.0)
                              - ties / ((CAST(n AS DOUBLE)
                                         + CAST(m AS DOUBLE))
                                        * (CAST(n AS DOUBLE)
                                           + CAST(m AS DOUBLE) - 1.0))))
                         END, 4) AS z
            FROM A
        """,
        "oov_profile": """
            WITH T AS (
                SELECT COALESCE(CAST(source AS VARCHAR), '__null__')
                           AS "group",
                       UNNEST(string_split(text, ' ')) AS tok
                FROM documents
            ),
            C AS (
                SELECT "group", tok, COUNT(*) AS c
                FROM T WHERE tok IS NOT NULL GROUP BY "group", tok
            ),
            V AS (
                SELECT tok AS token FROM (
                    SELECT tok, SUM(c) AS tc FROM C GROUP BY tok
                ) WHERE tc >= 5
            ),
            M AS (
                SELECT c."group", c.c,
                       (v.token IS NOT NULL) AS iv
                FROM C c LEFT JOIN V v ON c.tok = v.token
            )
            SELECT "group" AS source,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN NOT iv THEN c ELSE 0 END) AS BIGINT)
                       AS n_oov,
                   ROUND(CAST(SUM(CASE WHEN NOT iv THEN c ELSE 0 END)
                              AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
                       AS oov_rate,
                   COUNT(*) AS n_types,
                   CAST(SUM(CASE WHEN NOT iv THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_oov_types,
                   ROUND(CAST(SUM(CASE WHEN NOT iv THEN 1 ELSE 0 END)
                              AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                       AS type_oov_rate
            FROM M GROUP BY "group"
        """,
        "position_entropy": """
            WITH T AS (
                -- text IS NOT NULL mirrors the operator (LEAST(len(NULL),
                -- 16) = 16 would otherwise emit 16 NULL-token rows/doc)
                SELECT string_split(text, ' ') AS tk
                FROM documents WHERE text IS NOT NULL
            ),
            P AS (
                SELECT CAST(i AS INT) AS pos, tk[CAST(i AS INT)] AS tok
                FROM T, UNNEST(range(1, LEAST(len(tk), 16) + 1)) AS u(i)
            ),
            C AS (SELECT pos, tok, COUNT(*) AS c FROM P GROUP BY pos, tok),
            R AS (
                SELECT pos, tok, c,
                       ROW_NUMBER() OVER (
                           PARTITION BY pos ORDER BY c DESC, tok ASC
                       ) AS rk,
                       SUM(c) OVER (PARTITION BY pos) AS n_seqs,
                       COUNT(*) OVER (PARTITION BY pos) AS n_distinct,
                       SUM(CAST(FLOOR(LOG2(c) * 1048576.0) AS BIGINT) * c)
                           OVER (PARTITION BY pos) AS hf
                FROM C
            )
            SELECT pos,
                   CAST(n_seqs AS BIGINT) AS n_seqs,
                   CAST(n_distinct AS BIGINT) AS n_distinct,
                   ROUND(LOG2(CAST(n_seqs AS DOUBLE))
                         - (CAST(hf AS DOUBLE) / 1048576.0)
                           / CAST(n_seqs AS DOUBLE), 6) AS entropy_bits,
                   tok AS top_token,
                   ROUND(CAST(c AS DOUBLE) / CAST(n_seqs AS DOUBLE), 6)
                       AS top_frac
            FROM R WHERE rk = 1
        """,
        "association": """
            WITH CELLS AS (
                SELECT COALESCE(CAST(source AS VARCHAR), '__null__') AS a,
                       COALESCE(CAST(lang AS VARCHAR), '__null__') AS b,
                       COUNT(*) AS o
                FROM documents GROUP BY 1, 2
            ),
            RA AS (SELECT a, SUM(o) AS ra FROM CELLS GROUP BY a),
            CB AS (SELECT b, SUM(o) AS cb FROM CELLS GROUP BY b),
            TOT AS (SELECT SUM(o) AS n FROM CELLS),
            GRID AS (
                SELECT ra.a, cb.b, ra.ra, cb.cb,
                       COALESCE(c.o, 0) AS o, t.n
                FROM RA ra CROSS JOIN CB cb
                LEFT JOIN CELLS c ON c.a = ra.a AND c.b = cb.b
                CROSS JOIN TOT t
            ),
            TERMS AS (
                SELECT n,
                       a, b,
                       CAST(FLOOR(
                           ((CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
                             - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE))
                            * (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
                               - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)))
                           / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
                              * CAST(n AS DOUBLE))
                           * 1048576.0
                       ) AS BIGINT) AS chi_f,
                       CASE WHEN o > 0 THEN
                           CAST(FLOOR(LOG2(
                               (CAST(o AS DOUBLE) * CAST(n AS DOUBLE))
                               / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE))
                           ) * 1048576.0) AS BIGINT) * o
                       ELSE 0 END AS mi_f
                FROM GRID
            ),
            AGG AS (
                SELECT MAX(n) AS n,
                       COUNT(DISTINCT a) AS n_a,
                       COUNT(DISTINCT b) AS n_b,
                       SUM(chi_f) AS chi_f,
                       SUM(mi_f) AS mi_f
                FROM TERMS
            )
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(n_a AS BIGINT) AS n_a,
                   CAST(n_b AS BIGINT) AS n_b,
                   CAST((n_a - 1) * (n_b - 1) AS BIGINT) AS dof,
                   ROUND(CAST(chi_f AS DOUBLE) / 1048576.0, 4) AS chi2,
                   ROUND((CAST(mi_f AS DOUBLE) / 1048576.0)
                         / CAST(n AS DOUBLE), 6) AS mi_bits,
                   ROUND(CASE WHEN n > 0 AND LEAST(n_a - 1, n_b - 1) > 0
                              THEN SQRT((CAST(chi_f AS DOUBLE) / 1048576.0)
                                        / (CAST(n AS DOUBLE)
                                           * CAST(LEAST(n_a - 1, n_b - 1)
                                                  AS DOUBLE)))
                         END, 6) AS cramers_v
            FROM AGG
        """,
        "bootstrap_ci": """
            WITH BASE AS (
                SELECT COALESCE(CAST(source AS VARCHAR), '__null__') AS g,
                       CAST(doc_id AS VARCHAR) AS id,
                       CAST(FLOOR(CAST(n_chars AS DOUBLE) * 1048576.0)
                            AS BIGINT) AS xf
                FROM documents WHERE n_chars IS NOT NULL
            ),
            FULLSTAT AS (
                SELECT g, COUNT(*) AS n_rows,
                       (CAST(SUM(xf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                           / 1048576.0 AS mean
                FROM BASE GROUP BY g
            ),
            REP AS (
                SELECT g, id, xf, CAST(b AS INT) AS b
                FROM BASE, UNNEST(range(1, 65)) AS t(b)
            ),
            W AS (
                SELECT g, b, xf,
                       CASE
                         WHEN u <= 0.36787944117144233 THEN 0
                         WHEN u <= 0.7357588823428847 THEN 1
                         WHEN u <= 0.9196986029286058 THEN 2
                         WHEN u <= 0.9810118431238463 THEN 3
                         WHEN u <= 0.9963401531726563 THEN 4
                         WHEN u <= 0.9994058151824183 THEN 5
                         WHEN u <= 0.999916758850712 THEN 6
                         WHEN u <= 0.9999897508033253 THEN 7
                         ELSE 8
                       END AS w
                FROM (
                    SELECT g, b, xf,
                           (CAST(CAST('0x' || substr(
                                md5(id || '#' || CAST(b AS VARCHAR) || '#0'),
                                1, 4) AS BIGINT) AS DOUBLE) + 1.0)
                               / 65536.0 AS u
                    FROM REP
                )
            ),
            M AS (
                SELECT g, b,
                       (CAST(SUM(w * xf) AS DOUBLE)
                        / CAST(SUM(w) AS DOUBLE)) / 1048576.0 AS mb
                FROM W GROUP BY g, b HAVING SUM(w) > 0
            ),
            R AS (
                SELECT g, b, mb,
                       ROW_NUMBER() OVER (
                           PARTITION BY g ORDER BY mb ASC, b ASC
                       ) AS rk,
                       COUNT(*) OVER (PARTITION BY g) AS nb
                FROM M
            ),
            CI AS (
                SELECT g,
                       MIN(CASE WHEN rk = CAST(CEIL(0.025 * nb) AS INT)
                                THEN mb END) AS lo,
                       MIN(CASE WHEN rk = CAST(CEIL(0.975 * nb) AS INT)
                                THEN mb END) AS hi,
                       MAX(nb) AS n_boot_used
                FROM R GROUP BY g
            )
            SELECT f.g AS source, f.n_rows, ROUND(f.mean, 6) AS mean,
                   ROUND(c.lo, 6) AS ci_lo, ROUND(c.hi, 6) AS ci_hi,
                   CAST(COALESCE(c.n_boot_used, 0) AS BIGINT)
                       AS n_boot_used
            FROM FULLSTAT f LEFT JOIN CI c USING (g)
        """,
        "pmi_collocations": """
            WITH T AS (
                SELECT string_split(text, ' ') AS tk FROM documents
            ),
            P AS (
                SELECT tk[CAST(i AS INT)] AS t1,
                       tk[CAST(i AS INT) + 1] AS t2
                FROM T,
                     UNNEST(range(1, GREATEST(len(tk) - 1, 0) + 1))
                         AS u(i)
                WHERE len(tk) >= 2
            ),
            C AS (SELECT t1, t2, COUNT(*) AS c12 FROM P GROUP BY t1, t2),
            L AS (SELECT t1, SUM(c12) AS c1 FROM C GROUP BY t1),
            R AS (SELECT t2, SUM(c12) AS c2 FROM C GROUP BY t2),
            N AS (SELECT SUM(c12) AS n_pairs FROM C),
            S AS (
                SELECT c.t1, c.t2, c.c12,
                       CAST(FLOOR(LOG2(
                           (CAST(c.c12 AS DOUBLE) * CAST(n.n_pairs AS DOUBLE))
                           / (CAST(l.c1 AS DOUBLE) * CAST(r.c2 AS DOUBLE))
                       ) * 1048576.0) AS BIGINT) AS pmi_fixed
                FROM C c
                JOIN L l ON c.t1 = l.t1
                JOIN R r ON c.t2 = r.t2
                CROSS JOIN N n
                WHERE c.c12 >= 3
            ),
            K AS (
                SELECT ROW_NUMBER() OVER (
                           ORDER BY pmi_fixed DESC, t1 ASC, t2 ASC
                       ) AS rk,
                       t1, t2, c12, pmi_fixed
                FROM S
            )
            SELECT CAST(rk AS BIGINT) AS rk, t1, t2, c12, pmi_fixed
            FROM K WHERE rk <= 40
        """,
        "heavy_hitters": """
            WITH B AS (
                SELECT COALESCE(CAST(source AS VARCHAR), '__null__')
                           AS source,
                       UNNEST(string_split(text, ' ')) AS tok
                FROM documents
            ),
            T AS (SELECT source, COUNT(*) AS n_total FROM B GROUP BY source),
            C AS (
                SELECT source, tok AS value, COUNT(*) AS n
                FROM B GROUP BY source, tok
            )
            SELECT c.source, c.value, c.n, t.n_total,
                   ROUND(c.n / t.n_total, 6) AS frac
            FROM C c JOIN T t USING (source)
            WHERE c.n >= 0.01 * t.n_total
        """,
        "fd_violations": """
            WITH P AS (
                SELECT lang, source, COUNT(*) AS n
                FROM documents GROUP BY lang, source
            ),
            R AS (
                SELECT lang, source, n,
                       ROW_NUMBER() OVER (
                           PARTITION BY lang
                           ORDER BY n DESC, source ASC NULLS LAST
                       ) AS rk,
                       SUM(n) OVER (PARTITION BY lang) AS n_rows,
                       COUNT(*) OVER (PARTITION BY lang) AS n_distinct_dep
                FROM P
            )
            SELECT lang, CAST(n_rows AS BIGINT) AS n_rows, n_distinct_dep,
                   source AS majority_dep,
                   CAST(n_rows - n AS BIGINT) AS n_violations
            FROM R WHERE rk = 1
        """,
        "benford_digits": """
            WITH B AS (
                SELECT l_returnflag,
                       CAST(SUBSTR(CAST(CAST(ROUND(l_extendedprice * 100)
                                    AS BIGINT) AS VARCHAR), 1, 1) AS INT)
                           AS digit
                FROM lineitem
                WHERE l_extendedprice IS NOT NULL
                  AND CAST(ROUND(l_extendedprice * 100) AS BIGINT) > 0
            ),
            A AS (
                SELECT l_returnflag, digit, COUNT(*) AS n
                FROM B GROUP BY l_returnflag, digit
            )
            SELECT l_returnflag, digit, n,
                   ROUND(n / SUM(n) OVER (PARTITION BY l_returnflag), 6)
                       AS obs_frac,
                   ROUND(LOG10(1.0 + 1.0 / digit), 6) AS exp_frac
            FROM A
        """,
        "null_pattern": """
            WITH B AS (
                SELECT source,
                       CONCAT(
                           CASE WHEN text IS NULL THEN '1' ELSE '0' END,
                           CASE WHEN lang IS NULL THEN '1' ELSE '0' END,
                           CASE WHEN n_chars IS NULL THEN '1' ELSE '0' END
                       ) AS pattern,
                       CAST(CAST(text IS NULL AS INT)
                          + CAST(lang IS NULL AS INT)
                          + CAST(n_chars IS NULL AS INT) AS BIGINT)
                           AS n_nulls
                FROM documents
            )
            SELECT source, pattern, COUNT(*) AS n, n_nulls
            FROM B GROUP BY source, pattern, n_nulls
        """,
        "retention_cohorts": """
            WITH D AS (
                -- FLOOR, not //: DuckDB // truncates toward zero, which
                -- diverges from Spark's F.floor for pre-1970 timestamps
                SELECT user_id,
                       CAST(FLOOR(epoch_ms(ts) / 86400000) AS BIGINT) AS day
                FROM events
            ),
            C AS (
                SELECT user_id, day,
                       MIN(day) OVER (PARTITION BY user_id) AS cohort_day
                FROM D
            )
            SELECT cohort_day, day - cohort_day AS day_offset,
                   COUNT(DISTINCT user_id) AS n_users
            FROM C GROUP BY cohort_day, day - cohort_day
        """,
        "pivot_order_status": """
            SELECT o_orderpriority,
                   CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
                   CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
                   CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
            FROM orders GROUP BY o_orderpriority
        """,
        "rollup_revenue": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(*) AS n
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "mixture_sample": """
            WITH R AS (
                SELECT doc_id, source,
                       CASE source
                           WHEN 'src0' THEN 0.25
                           WHEN 'src1' THEN 0.5
                           WHEN 'src2' THEN 1.0
                           WHEN 'src3' THEN 1.75
                           WHEN 'src4' THEN 2.5
                           ELSE 0.1
                       END AS rate
                FROM documents
            ),
            E AS (
                SELECT doc_id, source, rate, CAST(e AS INT) AS epoch
                FROM R, UNNEST(range(3)) AS t(e)
            )
            SELECT doc_id, source, epoch
            FROM E
            WHERE epoch + (CAST(CONCAT('0x',
                      substr(md5(doc_id || '#' || epoch || '#0'), 1, 4))
                      AS INT) / 65536.0) < rate
        """,
        "pack_sequences": """
            WITH C AS (
                SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n,
                       SUM(CAST(n_chars AS BIGINT)) OVER (
                           PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM documents
            )
            SELECT doc_id, source,
                   CAST((cum - n) // 2048 AS BIGINT) AS pack_id,
                   CAST((cum - n) % 2048 AS INT) AS pack_offset,
                   CAST(n AS INT) AS seq_len,
                   CAST((cum - n + GREATEST(n, 1) - 1) // 2048
                        - (cum - n) // 2048 + 1 AS INT) AS n_packs_spanned
            FROM C
        """,
        "epoch_shuffle": """
            SELECT doc_id, shard, pos FROM (
                SELECT doc_id,
                       CAST(h % 8 AS INT) AS shard,
                       ROW_NUMBER() OVER (PARTITION BY h % 8
                           ORDER BY h, doc_id) AS pos
                FROM (
                    SELECT doc_id,
                           CAST('0x' || substr(md5(doc_id || '#e1#s0'),
                                        1, 15) AS BIGINT) AS h
                    FROM documents
                )
            )
        """,
        "length_buckets": """
            WITH T AS (
                SELECT doc_id, CAST(n_chars AS BIGINT) AS length,
                       CASE WHEN n_chars <= 64 THEN 0
                            WHEN n_chars <= 128 THEN 1
                            WHEN n_chars <= 256 THEN 2
                            WHEN n_chars <= 512 THEN 3
                            WHEN n_chars <= 1024 THEN 4
                            WHEN n_chars <= 2048 THEN 5
                            ELSE 6 END AS bucket,
                       md5(doc_id || '#0') AS h
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars > 0
            ),
            R AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
                    ORDER BY length DESC, h ASC, doc_id ASC) AS rk
                FROM T
            )
            SELECT doc_id, length, bucket, CAST(0 AS INT) AS shard,
                   (rk - 1) // 32 AS batch_id,
                   CAST((rk - 1) % 32 + 1 AS INT) AS batch_pos
            FROM R
        """,
        "padding_audit": """
            WITH T AS (
                SELECT doc_id, CAST(n_chars AS BIGINT) AS length,
                       CASE WHEN n_chars <= 64 THEN 0
                            WHEN n_chars <= 128 THEN 1
                            WHEN n_chars <= 256 THEN 2
                            WHEN n_chars <= 512 THEN 3
                            WHEN n_chars <= 1024 THEN 4
                            WHEN n_chars <= 2048 THEN 5
                            ELSE 6 END AS bucket,
                       md5(doc_id || '#0') AS h
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars > 0
            ),
            R AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
                    ORDER BY length DESC, h ASC, doc_id ASC) AS rk
                FROM T
            ),
            B AS (
                SELECT bucket, (rk - 1) // 32 AS batch_id,
                       COUNT(*) AS n, MAX(length) AS mx,
                       SUM(length) AS s
                FROM R GROUP BY 1, 2
            )
            SELECT bucket, CAST(0 AS INT) AS shard,
                   COUNT(*) AS n_batches,
                   CAST(SUM(n) AS BIGINT) AS n_rows,
                   CAST(SUM(s) AS BIGINT) AS kept_tokens,
                   CAST(SUM(mx * n) - SUM(s) AS BIGINT) AS padded_tokens,
                   CASE WHEN SUM(s) + (SUM(mx * n) - SUM(s)) > 0 THEN
                       ROUND((SUM(mx * n) - SUM(s)) * 1.0 /
                             (SUM(mx * n)), 6)
                   END AS pad_frac
            FROM B GROUP BY bucket
        """,
        "weighted_sample": """
            -- priority sampling mirror: u = (h+1)/2^16 is a
            -- power-of-two division (exact in FP); n_chars/u is one
            -- correctly-rounded IEEE division, so the DESC ranking is
            -- engine-invariant
            SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       ROW_NUMBER() OVER (PARTITION BY source
                           ORDER BY n_chars * 1.0 /
                               ((CAST('0x' || substr(md5(doc_id || '#0'),
                                               1, 4) AS BIGINT) + 1)
                                / 65536.0) DESC,
                               doc_id) AS rk
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars > 0
            ) WHERE rk <= 10
        """,
        "stratified_sample": """
            SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       ROW_NUMBER() OVER (PARTITION BY source
                           ORDER BY md5(doc_id || '#0'), doc_id) AS rk
                FROM documents
            ) WHERE rk <= 7
        """,
        "contamination_hits": """
            WITH WB AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
                WHERE doc_id % 7 = 0
            ),
            SB AS (
                SELECT DISTINCT doc_id AS bdoc,
                       array_to_string(w[i : i + 3], ' ') AS sh
                FROM WB, UNNEST(range(1, GREATEST(len(w) - 2, 2))) AS t(i)
            ),
            WC AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
                WHERE doc_id % 7 <> 0
            ),
            SC AS (
                SELECT DISTINCT doc_id,
                       array_to_string(w[i : i + 3], ' ') AS sh
                FROM WC, UNNEST(range(1, GREATEST(len(w) - 2, 2))) AS t(i)
            )
            SELECT c.doc_id,
                   COUNT(DISTINCT c.sh) AS n_hits,
                   COUNT(DISTINCT b.bdoc) AS n_bench_docs
            FROM SC c JOIN SB b ON c.sh = b.sh
            GROUP BY c.doc_id
        """,
        "bloom_survivors": """
            WITH WB AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
                WHERE doc_id % 7 = 0
            ),
            SB AS (
                SELECT DISTINCT array_to_string(w[i : i + 3], ' ') AS sh
                FROM WB, UNNEST(range(1, GREATEST(len(w) - 2, 2))) AS t(i)
            ),
            PE AS (
                SELECT DISTINCT (h1 + i * h2) % 1048576 AS pos
                FROM (
                    SELECT
                        CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)
                            % 1048576 AS h1,
                        (CAST('0x' || substr(md5(sh), 16, 15) AS BIGINT)
                            % 1048576) | 1 AS h2
                    FROM SB
                ), UNNEST(range(5)) AS t(i)
            ),
            WC AS (
                SELECT doc_id, source, string_split(text, ' ') AS w
                FROM documents WHERE doc_id % 7 <> 0
            ),
            SC AS (
                SELECT DISTINCT doc_id,
                       array_to_string(w[i : i + 3], ' ') AS sh
                FROM WC, UNNEST(range(1, GREATEST(len(w) - 2, 2))) AS t(i)
            ),
            CP AS (
                SELECT doc_id, sh, (h1 + i * h2) % 1048576 AS pos
                FROM (
                    SELECT doc_id, sh,
                        CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)
                            % 1048576 AS h1,
                        (CAST('0x' || substr(md5(sh), 16, 15) AS BIGINT)
                            % 1048576) | 1 AS h2
                    FROM SC
                ), UNNEST(range(5)) AS t(i)
            ),
            SH AS (
                SELECT doc_id, sh,
                       COUNT(DISTINCT pos) AS d,
                       COUNT(DISTINCT CASE WHEN pos IN (SELECT pos FROM PE)
                                           THEN pos END) AS md
                FROM CP GROUP BY doc_id, sh
            ),
            FLAGGED AS (
                SELECT doc_id FROM SH GROUP BY doc_id
                HAVING SUM(CASE WHEN md = d THEN 1 ELSE 0 END) >= 1
            )
            SELECT c.doc_id, c.source FROM WC c
            WHERE c.doc_id NOT IN (SELECT doc_id FROM FLAGGED)
        """,
        "source_signatures": """
            WITH T AS (
                SELECT source,
                       UNNEST(string_split(text, ' ')) AS token
                FROM documents
            ),
            TF AS (SELECT source, token, COUNT(*) AS tf FROM T
                   GROUP BY 1, 2),
            GD AS (SELECT token, COUNT(*) AS gdf FROM TF GROUP BY 1),
            -- G = groups with at least one token (the engine derives
            -- it from the aggregated tf frame; identical here, and the
            -- right idf denominator when a group is token-empty)
            G AS (SELECT COUNT(DISTINCT source) AS n_groups FROM TF),
            S AS (
                SELECT tf.source, tf.token, tf.tf, gd.gdf,
                       tf.tf * CAST(FLOOR(LOG2((g.n_groups + 1.0)
                                   / (gd.gdf + 1.0)) * 1048576.0)
                               AS BIGINT) AS score
                FROM TF tf JOIN GD gd ON tf.token = gd.token
                CROSS JOIN G g
            ),
            R AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY score DESC, token ASC) AS rank
                FROM S
            )
            SELECT source, token, tf, gdf, score, rank
            FROM R WHERE rank <= 5
        """,
        "lang_mix": _lang_mix_oracle_sql(),
        "bloom_decontam": """
            -- exact mirror of the Bloom probe: h1/h2 from disjoint
            -- 60-bit md5 halves, h2 forced odd, 5 double-hash probes
            -- into 2^20 bits; a shingle "hits" when ALL its distinct
            -- positions are set by some eval shingle. False positives
            -- are reproduced bit-for-bit, not tolerated.
            WITH WB AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
                WHERE doc_id % 7 = 0
            ),
            SB AS (
                SELECT DISTINCT array_to_string(w[i : i + 3], ' ') AS sh
                FROM WB, UNNEST(range(1, GREATEST(len(w) - 2, 2))) AS t(i)
            ),
            PE AS (
                SELECT DISTINCT (h1 + i * h2) % 1048576 AS pos
                FROM (
                    SELECT
                        CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)
                            % 1048576 AS h1,
                        (CAST('0x' || substr(md5(sh), 16, 15) AS BIGINT)
                            % 1048576) | 1 AS h2
                    FROM SB
                ), UNNEST(range(5)) AS t(i)
            ),
            WC AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
                WHERE doc_id % 7 <> 0
            ),
            SC AS (
                SELECT DISTINCT doc_id,
                       array_to_string(w[i : i + 3], ' ') AS sh
                FROM WC, UNNEST(range(1, GREATEST(len(w) - 2, 2))) AS t(i)
            ),
            CP AS (
                SELECT doc_id, sh, (h1 + i * h2) % 1048576 AS pos
                FROM (
                    SELECT doc_id, sh,
                        CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)
                            % 1048576 AS h1,
                        (CAST('0x' || substr(md5(sh), 16, 15) AS BIGINT)
                            % 1048576) | 1 AS h2
                    FROM SC
                ), UNNEST(range(5)) AS t(i)
            ),
            SH AS (
                SELECT doc_id, sh,
                       COUNT(DISTINCT pos) AS d,
                       COUNT(DISTINCT CASE WHEN pos IN (SELECT pos FROM PE)
                                           THEN pos END) AS md
                FROM CP GROUP BY doc_id, sh
            ),
            NS AS (SELECT doc_id, COUNT(*) AS n_shingles FROM SC
                   GROUP BY doc_id),
            HITS AS (
                SELECT doc_id,
                       SUM(CASE WHEN md = d THEN 1 ELSE 0 END) AS n_hits
                FROM SH GROUP BY doc_id
            )
            SELECT n.doc_id, n.n_shingles,
                   CAST(h.n_hits AS BIGINT) AS n_hits
            FROM NS n JOIN HITS h ON n.doc_id = h.doc_id
            WHERE h.n_hits >= 1
        """,
        "decontam_survivors": """
            WITH WB AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
                WHERE doc_id % 7 = 0
            ),
            SB AS (
                SELECT DISTINCT array_to_string(w[i : i + 3], ' ') AS sh
                FROM WB, UNNEST(range(1, GREATEST(len(w) - 2, 2))) AS t(i)
            ),
            WC AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
                WHERE doc_id % 7 <> 0
            ),
            SC AS (
                SELECT DISTINCT doc_id,
                       array_to_string(w[i : i + 3], ' ') AS sh
                FROM WC, UNNEST(range(1, GREATEST(len(w) - 2, 2))) AS t(i)
            ),
            FLAGGED AS (
                SELECT DISTINCT doc_id FROM SC WHERE sh IN (SELECT sh FROM SB)
            )
            SELECT d.doc_id, d.source FROM documents d
            WHERE d.doc_id % 7 <> 0
              AND d.doc_id NOT IN (SELECT doc_id FROM FLAGGED)
        """,
        "repetition_profile": """
            WITH W AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ),
            G AS (
                SELECT doc_id, array_to_string(w[i : i + 2], ' ') AS g
                FROM W, UNNEST(range(1, GREATEST(len(w) - 1, 2))) AS t(i)
            ),
            PC AS (
                SELECT doc_id, g, COUNT(*) AS c FROM G GROUP BY doc_id, g
            )
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_ngrams,
                   ROUND(MAX(c) * 1.0 / SUM(c), 4) AS top_ngram_frac,
                   ROUND(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1.0
                         / SUM(c), 4) AS dup_ngram_frac
            FROM PC GROUP BY doc_id
        """,
        "token_run_quality": """
            WITH W AS (
                SELECT doc_id,
                       list_transform(string_split(text, ' '),
                                      x -> length(x)) AS toks
                FROM documents
            ),
            U AS (
                SELECT doc_id, UNNEST(toks) AS tok,
                       UNNEST(range(1, len(toks) + 1)) AS i
                FROM W
            ),
            R AS (
                SELECT doc_id, tok, i,
                       i - ROW_NUMBER() OVER (PARTITION BY doc_id, tok
                                              ORDER BY i) AS grp
                FROM U
            ),
            RUNS AS (
                SELECT doc_id, COUNT(*) AS run_len
                FROM R GROUP BY doc_id, tok, grp
            ),
            MX AS (SELECT doc_id, MAX(run_len) AS max_run FROM RUNS
                   GROUP BY doc_id)
            SELECT w.doc_id,
                   CAST(len(w.toks) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(w.toks)) AS BIGINT)
                       AS n_distinct_tokens,
                   CAST(m.max_run AS BIGINT) AS max_run,
                   ROUND(m.max_run * 1.0 / len(w.toks), 4) AS max_run_frac
            FROM W w JOIN MX m ON w.doc_id = m.doc_id
        """,
        "vocab_topk": """
            WITH T AS (
                SELECT source,
                       UNNEST(list_transform(string_split(text, ' '),
                                             x -> length(x))) AS token
                FROM documents
            ),
            C AS (SELECT source, token, COUNT(*) AS n FROM T GROUP BY 1, 2),
            R AS (
                SELECT source, token, n,
                       ROW_NUMBER() OVER (PARTITION BY source
                           ORDER BY n DESC, token ASC) AS rank
                FROM C
            )
            SELECT source, CAST(token AS BIGINT) AS token,
                   CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
            FROM R WHERE rank <= 5
        """,
        "ks_drift": """
            WITH C AS (
                -- DuckDB has no width_bucket; mirror Spark's Postgres
                -- semantics (0 = underflow, nbins+1 = overflow, else
                -- floor((v-lo)*n/(hi-lo))+1 — exact for these integers)
                SELECT COALESCE(source, '__null__') AS grp,
                       CASE WHEN CAST(n_chars AS DOUBLE) < 0.0 THEN 0
                            WHEN CAST(n_chars AS DOUBLE) >= 1000.0 THEN 11
                            ELSE CAST(FLOOR(CAST(n_chars AS DOUBLE) * 10.0
                                            / 1000.0) AS INT) + 1
                       END AS bucket,
                       COUNT(*) AS n
                FROM documents WHERE n_chars IS NOT NULL
                GROUP BY 1, 2
            ),
            G AS (SELECT DISTINCT grp FROM C),
            B AS (SELECT UNNEST(range(0, 12)) AS bucket),
            D AS (
                SELECT g.grp, b.bucket, COALESCE(c.n, 0) AS n
                FROM G g CROSS JOIN B b
                LEFT JOIN C c ON c.grp = g.grp AND c.bucket = b.bucket
            ),
            CU AS (
                SELECT grp, bucket,
                       SUM(n) OVER (PARTITION BY grp ORDER BY bucket) AS cum_n
                FROM D
            ),
            TT AS (SELECT grp, MAX(cum_n) AS tot FROM CU GROUP BY grp),
            CD AS (
                SELECT cu.grp, cu.bucket, cum_n * 1.0 / tot AS cdf
                FROM CU cu JOIN TT USING (grp)
            ),
            BASE AS (SELECT bucket, cdf AS base_cdf FROM CD
                     WHERE grp = 'src0')
            SELECT cd.grp AS source, ROUND(MAX(ABS(cd.cdf - base_cdf)), 4)
                       AS ks
            FROM CD cd JOIN BASE USING (bucket) GROUP BY 1
        """,
        "vocab_overlap": """
            WITH E AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       UNNEST(string_split(text, ' ')) AS token
                FROM documents
            ),
            B AS (
                SELECT DISTINCT grp, token FROM E WHERE token IS NOT NULL
            ),
            S AS (SELECT grp, COUNT(*) AS n FROM B GROUP BY grp),
            I AS (
                SELECT a.grp AS g1, b.grp AS g2, COUNT(*) AS n_common
                FROM B a JOIN B b ON a.token = b.token AND a.grp < b.grp
                GROUP BY 1, 2
            ),
            P AS (
                SELECT s1.grp AS g1, s2.grp AS g2,
                       s1.n AS n1, s2.n AS n2
                FROM S s1 JOIN S s2 ON s1.grp < s2.grp
            )
            SELECT g1, g2, n1, n2,
                   CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
                   ROUND(CAST(COALESCE(n_common, 0) AS DOUBLE)
                         / CAST(n1 + n2 - COALESCE(n_common, 0) AS DOUBLE),
                         6) AS jaccard,
                   ROUND(CAST(COALESCE(n_common, 0) AS DOUBLE)
                         / CAST(n1 AS DOUBLE), 6) AS containment_1,
                   ROUND(CAST(COALESCE(n_common, 0) AS DOUBLE)
                         / CAST(n2 AS DOUBLE), 6) AS containment_2
            FROM P LEFT JOIN I USING (g1, g2)
        """,
        "shard_manifest": """
            WITH S AS (
                SELECT CAST(FLOOR(
                           CAST(CONCAT('0x',
                               substr(md5(doc_id || '#shard#0'), 1, 4))
                               AS INT) / 65536.0 * 8.0) AS INT) AS shard,
                       CAST(CONCAT('0x',
                           substr(md5(doc_id || '#' || COALESCE(text, '')),
                                  1, 15)) AS BIGINT) AS h,
                       COALESCE(n_chars, 0) AS len
                FROM documents
            )
            SELECT shard, COUNT(*) AS n_rows,
                   CAST(SUM(len) AS BIGINT) AS sum_length,
                   bit_xor(h) AS checksum
            FROM S GROUP BY shard
        """,
        "fertility": """
            WITH C AS (
                SELECT COALESCE(source, '__null__') AS source,
                       COALESCE(lang, '__null__') AS lang,
                       COALESCE(LENGTH(text), 0) AS n_chars,
                       CASE WHEN text IS NOT NULL AND LENGTH(text) > 0
                            THEN LEN(string_split(text, ' '))
                            ELSE 0 END AS n_words,
                       CASE WHEN text IS NOT NULL AND LENGTH(text) > 0
                            THEN LEN(regexp_extract_all(text,
                                                        '[A-Za-z0-9]+'))
                            ELSE 0 END AS n_tokens
                FROM documents
            ),
            A AS (
                SELECT source, lang, COUNT(*) AS n_docs,
                       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                       CAST(SUM(n_words) AS BIGINT) AS sum_words,
                       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
                FROM C GROUP BY 1, 2
            )
            SELECT source, lang, n_docs, sum_chars, sum_words, sum_tokens,
                   ROUND(CASE WHEN sum_tokens > 0 THEN
                         CAST(sum_chars AS DOUBLE)
                             / CAST(sum_tokens AS DOUBLE) END, 6)
                       AS chars_per_token,
                   ROUND(CASE WHEN sum_words > 0 THEN
                         CAST(sum_tokens AS DOUBLE)
                             / CAST(sum_words AS DOUBLE) END, 6)
                       AS fertility
            FROM A
        """,
        "readability": """
            WITH C AS (
                SELECT doc_id,
                       CASE WHEN text IS NOT NULL AND LENGTH(text) > 0
                            THEN LEN(string_split(text, ' '))
                            ELSE 0 END AS n_words,
                       CASE WHEN text IS NOT NULL AND LENGTH(text) > 0
                            THEN LEN(regexp_extract_all(text, '[.!?]+'))
                            ELSE 0 END AS n_sentences,
                       CASE WHEN text IS NOT NULL AND LENGTH(text) > 0
                            THEN LEN(regexp_extract_all(text,
                                                        '[AaEeIiOoUuYy]+'))
                            ELSE 0 END AS n_syllables
                FROM documents
            ),
            R AS (
                SELECT doc_id, n_words, n_sentences, n_syllables,
                       CAST(n_words AS DOUBLE)
                           / CAST(GREATEST(n_sentences, 1) AS DOUBLE) AS wps,
                       CAST(n_syllables AS DOUBLE)
                           / CAST(n_words AS DOUBLE) AS spw
                FROM C
            )
            SELECT doc_id,
                   CAST(n_words AS BIGINT) AS n_words,
                   CAST(n_sentences AS BIGINT) AS n_sentences,
                   CAST(n_syllables AS BIGINT) AS n_syllables,
                   ROUND(CASE WHEN n_words > 0 THEN wps END, 4)
                       AS words_per_sentence,
                   ROUND(CASE WHEN n_words > 0 THEN spw END, 4)
                       AS syllables_per_word,
                   ROUND(CASE WHEN n_words > 0 THEN
                         206.835 - 1.015 * wps - 84.6 * spw END, 4)
                       AS flesch,
                   ROUND(CASE WHEN n_words > 0 THEN
                         0.39 * wps + 11.8 * spw - 15.59 END, 4)
                       AS fk_grade
            FROM R
        """,
        "corr_length_words": """
            WITH V AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       CAST(FLOOR(CAST(n_chars AS DOUBLE) * 1.0) AS BIGINT)
                           AS x,
                       CAST(FLOOR(CAST(LEN(string_split(text, ' '))
                                       AS DOUBLE) * 1.0) AS BIGINT) AS y
                FROM documents
                WHERE n_chars IS NOT NULL AND text IS NOT NULL
            ),
            A AS (
                SELECT grp, COUNT(*) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx,
                       CAST(SUM(y * y) AS BIGINT) AS syy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy
                FROM V GROUP BY grp
            ),
            M AS (
                SELECT grp, n,
                       CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                       CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
                       CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy,
                       CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
                FROM A
            )
            SELECT grp AS source, n,
                   ROUND(CASE WHEN n >= 2 AND dx > 0 AND dy > 0
                              THEN num / SQRT(dx * dy) END, 6) AS corr,
                   ROUND(CASE WHEN n >= 2 AND dx > 0
                              THEN num / dx END, 6) AS slope,
                   ROUND(CASE WHEN n >= 2 AND dx > 0
                              THEN (syd - (num / dx) * sxd)
                                   / CAST(n AS DOUBLE) END, 6) AS intercept
            FROM M
        """,
        "emd_drift": """
            WITH C AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       CASE WHEN CAST(n_chars AS DOUBLE) < 0.0 THEN 0
                            WHEN CAST(n_chars AS DOUBLE) >= 1000.0 THEN 11
                            ELSE CAST(FLOOR(CAST(n_chars AS DOUBLE) * 10.0
                                            / 1000.0) AS INT) + 1
                       END AS bucket,
                       COUNT(*) AS n
                FROM documents WHERE n_chars IS NOT NULL
                GROUP BY 1, 2
            ),
            G AS (SELECT DISTINCT grp FROM C),
            B AS (SELECT UNNEST(range(0, 12)) AS bucket),
            D AS (
                SELECT g.grp, b.bucket, COALESCE(c.n, 0) AS n
                FROM G g CROSS JOIN B b
                LEFT JOIN C c ON c.grp = g.grp AND c.bucket = b.bucket
            ),
            CU AS (
                SELECT grp, bucket,
                       SUM(n) OVER (PARTITION BY grp ORDER BY bucket) AS cum_n
                FROM D
            ),
            TT AS (SELECT grp, MAX(cum_n) AS tot FROM CU GROUP BY grp),
            CD AS (
                SELECT cu.grp, cu.bucket, cum_n * 1.0 / tot AS cdf
                FROM CU cu JOIN TT USING (grp)
            ),
            BASE AS (SELECT bucket, cdf AS base_cdf FROM CD
                     WHERE grp = 'src0')
            SELECT cd.grp AS source,
                   ROUND(SUM(ABS(cd.cdf - base_cdf) ORDER BY cd.bucket)
                         * 100.0, 4) AS emd
            FROM CD cd JOIN BASE USING (bucket) GROUP BY 1
        """,
        "chi2_drift": """
            WITH C AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       CASE WHEN CAST(n_chars AS DOUBLE) < 0.0 THEN 0
                            WHEN CAST(n_chars AS DOUBLE) >= 1000.0 THEN 11
                            ELSE CAST(FLOOR(CAST(n_chars AS DOUBLE) * 10.0
                                            / 1000.0) AS INT) + 1
                       END AS bucket,
                       COUNT(*) AS n
                FROM documents WHERE n_chars IS NOT NULL
                GROUP BY 1, 2
            ),
            G AS (SELECT DISTINCT grp FROM C),
            B AS (SELECT UNNEST(range(0, 12)) AS bucket),
            D AS (
                SELECT g.grp, b.bucket, COALESCE(c.n, 0) AS n
                FROM G g CROSS JOIN B b
                LEFT JOIN C c ON c.grp = g.grp AND c.bucket = b.bucket
            ),
            TT AS (SELECT grp, CAST(SUM(n) AS BIGINT) AS tot
                   FROM D GROUP BY grp),
            BASE AS (
                SELECT d.bucket, d.n AS bn, tt.tot AS bt
                FROM D d JOIN TT tt USING (grp) WHERE d.grp = 'src0'
            ),
            T AS (
                SELECT d.grp, d.bucket,
                       CASE WHEN b.bn > 0 THEN
                           (CAST(d.n AS DOUBLE)
                            - (CAST(b.bn AS DOUBLE) * tt.tot) / b.bt)
                         * (CAST(d.n AS DOUBLE)
                            - (CAST(b.bn AS DOUBLE) * tt.tot) / b.bt)
                         / ((CAST(b.bn AS DOUBLE) * tt.tot) / b.bt)
                       ELSE 0.0 END AS term,
                       CASE WHEN b.bn = 0 AND d.n > 0 THEN 1 ELSE 0 END
                           AS novel,
                       CASE WHEN b.bn > 0 THEN 1 ELSE 0 END AS used
                FROM D d JOIN TT tt USING (grp)
                JOIN BASE b USING (bucket)
            )
            SELECT grp AS source,
                   ROUND(SUM(term ORDER BY bucket), 4) AS chi2,
                   CAST(SUM(used) - 1 AS BIGINT) AS dof,
                   CAST(SUM(novel) AS BIGINT) AS novel_buckets
            FROM T GROUP BY 1
        """,
        "js_drift": """
            WITH C AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       CASE WHEN CAST(n_chars AS DOUBLE) < 0.0 THEN 0
                            WHEN CAST(n_chars AS DOUBLE) >= 1000.0 THEN 11
                            ELSE CAST(FLOOR(CAST(n_chars AS DOUBLE) * 10.0
                                            / 1000.0) AS INT) + 1
                       END AS bucket,
                       COUNT(*) AS n
                FROM documents WHERE n_chars IS NOT NULL
                GROUP BY 1, 2
            ),
            G AS (SELECT DISTINCT grp FROM C),
            B AS (SELECT UNNEST(range(0, 12)) AS bucket),
            D AS (
                SELECT g.grp, b.bucket, COALESCE(c.n, 0) AS n
                FROM G g CROSS JOIN B b
                LEFT JOIN C c ON c.grp = g.grp AND c.bucket = b.bucket
            ),
            TT AS (SELECT grp, CAST(SUM(n) AS BIGINT) AS tot
                   FROM D GROUP BY grp),
            BASE AS (
                SELECT d.bucket, d.n AS bn, tt.tot AS bt
                FROM D d JOIN TT tt USING (grp) WHERE d.grp = 'src0'
            ),
            PQ AS (
                SELECT d.grp, d.bucket,
                       CAST(d.n AS DOUBLE) / CAST(tt.tot AS DOUBLE) AS p,
                       CAST(b.bn AS DOUBLE) / CAST(b.bt AS DOUBLE) AS q
                FROM D d JOIN TT tt USING (grp)
                JOIN BASE b USING (bucket)
            ),
            T AS (
                SELECT grp, bucket,
                       CASE WHEN p > 0
                            THEN p * LN(p / ((p + q) / 2.0)) / 2.0
                            ELSE 0.0 END
                     + CASE WHEN q > 0
                            THEN q * LN(q / ((p + q) / 2.0)) / 2.0
                            ELSE 0.0 END AS term
                FROM PQ
            )
            SELECT grp AS source,
                   ROUND(SUM(term ORDER BY bucket), 4) AS js
            FROM T GROUP BY 1
        """,
        "spearman_drift": """
            WITH E AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       UNNEST(string_split(text, ' ')) AS key
                FROM documents
            ),
            C AS (
                SELECT grp, key, CAST(COUNT(*) AS BIGINT) AS f
                FROM E WHERE key IS NOT NULL GROUP BY 1, 2
            ),
            BASE AS (SELECT key, f AS bf FROM C WHERE grp = 'src0'),
            P AS (
                SELECT c.grp, c.key, c.f, b.bf
                FROM C c JOIN BASE b USING (key)
            ),
            R AS (
                SELECT grp,
                       CAST(2 * RANK() OVER (
                                PARTITION BY grp ORDER BY f ASC)
                            + COUNT(*) OVER (PARTITION BY grp, f) - 1
                            AS BIGINT) AS x,
                       CAST(2 * RANK() OVER (
                                PARTITION BY grp ORDER BY bf ASC)
                            + COUNT(*) OVER (PARTITION BY grp, bf) - 1
                            AS BIGINT) AS y
                FROM P
            ),
            A AS (
                SELECT grp, COUNT(*) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx,
                       CAST(SUM(y * y) AS BIGINT) AS syy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy
                FROM R GROUP BY grp
            ),
            M AS (
                SELECT grp, n,
                       CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                       CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
                       CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy
                FROM A
            )
            SELECT grp AS source, CAST(n AS BIGINT) AS n_shared,
                   ROUND(CASE WHEN n >= 2 AND dx > 0 AND dy > 0
                              THEN num / SQRT(dx * dy) END, 6) AS rho
            FROM M
        """,
        "psi_equidepth": """
            WITH X AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       CAST(n_chars AS DOUBLE) AS v
                FROM documents WHERE n_chars IS NOT NULL
            ),
            BD AS (
                SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
                                         0.6, 0.7, 0.8, 0.9]) AS bnds
                FROM X WHERE grp = 'src0'
            ),
            C AS (
                SELECT grp,
                       CAST(len(list_filter(bnds, b -> v > b)) AS INT)
                           AS bucket,
                       COUNT(*) AS n
                FROM X CROSS JOIN BD GROUP BY 1, 2
            ),
            G AS (SELECT DISTINCT grp FROM C),
            B AS (SELECT UNNEST(range(0, 10))::INT AS bucket),
            D AS (
                SELECT g.grp, b.bucket, COALESCE(c.n, 0) AS n
                FROM G g CROSS JOIN B b
                LEFT JOIN C c ON c.grp = g.grp AND c.bucket = b.bucket
            ),
            TT AS (SELECT grp, CAST(SUM(n) AS BIGINT) AS tot
                   FROM D GROUP BY grp),
            BASE AS (
                SELECT d.bucket, d.n AS bn, tt.tot AS bt
                FROM D d JOIN TT tt USING (grp) WHERE d.grp = 'src0'
            ),
            T AS (
                SELECT d.grp, d.bucket,
                       (GREATEST(CAST(d.n AS DOUBLE)
                                 / CAST(tt.tot AS DOUBLE), 1e-9)
                        - GREATEST(CAST(b.bn AS DOUBLE)
                                   / CAST(b.bt AS DOUBLE), 1e-9))
                       * LN(GREATEST(CAST(d.n AS DOUBLE)
                                     / CAST(tt.tot AS DOUBLE), 1e-9)
                            / GREATEST(CAST(b.bn AS DOUBLE)
                                       / CAST(b.bt AS DOUBLE), 1e-9))
                           AS term
                FROM D d JOIN TT tt USING (grp)
                JOIN BASE b USING (bucket)
            )
            SELECT grp AS source,
                   ROUND(SUM(term ORDER BY bucket), 4) AS psi
            FROM T GROUP BY 1
        """,
        "robust_location": """
            WITH X AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       CAST(n_chars AS DOUBLE) AS v
                FROM documents WHERE n_chars IS NOT NULL
            ),
            Q AS (
                SELECT grp, quantile_cont(v, 0.05) AS lo,
                       quantile_cont(v, 0.95) AS hi
                FROM X GROUP BY 1
            ),
            J AS (
                SELECT x.grp, q.lo, q.hi,
                       CAST(FLOOR(x.v * 1048576.0) AS BIGINT) AS vq,
                       CAST(FLOOR(LEAST(GREATEST(x.v, q.lo), q.hi)
                                  * 1048576.0) AS BIGINT) AS cq,
                       CASE WHEN x.v >= q.lo AND x.v <= q.hi
                            THEN 1 ELSE 0 END AS ins
                FROM X x JOIN Q q USING (grp)
            ),
            A AS (
                SELECT grp, COUNT(*) AS n,
                       MAX(lo) AS lo, MAX(hi) AS hi,
                       CAST(SUM(vq) AS BIGINT) AS sv,
                       CAST(SUM(CASE WHEN ins = 1 THEN vq ELSE 0 END)
                            AS BIGINT) AS st,
                       CAST(SUM(ins) AS BIGINT) AS nt,
                       CAST(SUM(cq) AS BIGINT) AS sw
                FROM J GROUP BY 1
            )
            SELECT grp AS source, n,
                   ROUND(lo, 6) AS lo, ROUND(hi, 6) AS hi,
                   ROUND(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)
                         / 1048576.0, 6) AS mean,
                   ROUND(CASE WHEN nt > 0 THEN
                       CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                       / 1048576.0 END, 6) AS trimmed_mean,
                   ROUND(CAST(sw AS DOUBLE) / CAST(n AS DOUBLE)
                         / 1048576.0, 6) AS winsorized_mean,
                   nt AS n_trimmed
            FROM A
        """,
        "token_entropy": """
            WITH W AS (
                SELECT doc_id,
                       list_transform(string_split(text, ' '),
                                      x -> length(x)) AS toks
                FROM documents
            ),
            U AS (SELECT doc_id, UNNEST(toks) AS tok FROM W),
            C AS (
                SELECT doc_id, tok, COUNT(*) AS c
                FROM U GROUP BY doc_id, tok
            ),
            S AS (
                SELECT doc_id,
                       CAST(SUM(c) AS BIGINT) AS n,
                       CAST(COUNT(*) AS BIGINT) AS d,
                       SUM(CASE WHEN c > 1
                                THEN c * log2(CAST(c AS DOUBLE))
                                ELSE 0.0 END ORDER BY tok) AS s
                FROM C GROUP BY doc_id
            )
            -- LEFT JOIN so a (hypothetical) null-text doc stays a row
            -- with null stats, exactly like Spark's null-array path
            SELECT w.doc_id,
                   s.n AS n_tokens,
                   s.d AS n_distinct_tokens,
                   CASE WHEN s.n > 0
                        THEN ROUND(log2(CAST(s.n AS DOUBLE)) - s.s / s.n, 4)
                   END AS entropy,
                   CASE WHEN s.n > 0
                        THEN ROUND(s.d * 1.0 / s.n, 4)
                   END AS ttr
            FROM W w LEFT JOIN S s USING (doc_id)
        """,
        "duplicate_spans": """
            WITH W AS (
                SELECT doc_id,
                       list_transform(string_split(text, ' '),
                                      x -> CAST(length(x) AS VARCHAR))
                           AS toks
                FROM documents
            ),
            P AS (
                SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                       array_to_string(toks[CAST(i AS INT)
                                            : CAST(i AS INT) + 7], ',')
                           AS sh
                FROM W,
                     UNNEST(range(1, GREATEST(len(toks) - 8 + 1, 0) + 1))
                         AS t(i)
                WHERE len(toks) >= 8
            ),
            C AS (
                SELECT sh,
                       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
                FROM P GROUP BY sh
                HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            D AS (
                SELECT p.doc_id, p.pos, c.n_docs
                FROM P p JOIN C c USING (sh)
            ),
            FL AS (
                SELECT doc_id, pos, n_docs,
                       CASE WHEN pos <= LAG(pos) OVER (
                                PARTITION BY doc_id ORDER BY pos) + 8
                            THEN 0 ELSE 1 END AS nw
                FROM D
            ),
            ISL AS (
                SELECT doc_id, pos, n_docs,
                       SUM(nw) OVER (PARTITION BY doc_id
                                     ORDER BY pos) AS isl
                FROM FL
            )
            SELECT doc_id,
                   CAST(MIN(pos) AS INT) AS span_start,
                   CAST(MAX(pos) + 8 AS INT) AS span_end,
                   CAST(COUNT(*) AS BIGINT) AS n_windows,
                   CAST(MAX(n_docs) AS BIGINT) AS max_dup_docs
            FROM ISL GROUP BY doc_id, isl
        """,
        "scrub_token_spans": """
            WITH W AS (
                SELECT doc_id,
                       list_transform(string_split(text, ' '),
                                      x -> CAST(length(x) AS VARCHAR))
                           AS toks
                FROM documents
            ),
            P AS (
                SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                       array_to_string(toks[CAST(i AS INT)
                                            : CAST(i AS INT) + 7], ',')
                           AS sh
                FROM W,
                     UNNEST(range(1, GREATEST(len(toks) - 8 + 1, 0) + 1))
                         AS t(i)
                WHERE len(toks) >= 8
            ),
            C AS (
                SELECT sh FROM P GROUP BY sh
                HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            D AS (
                SELECT p.doc_id, p.pos FROM P p JOIN C c USING (sh)
            ),
            -- every position covered by a duplicated window
            REM AS (
                SELECT DISTINCT d.doc_id, d.pos + j AS rp
                FROM D d, UNNEST(range(8)) AS t(j)
            ),
            TI AS (
                SELECT doc_id, CAST(i - 1 AS INT) AS idx,
                       toks[CAST(i AS INT)] AS tok
                FROM W, UNNEST(range(1, len(toks) + 1)) AS t(i)
            ),
            KEPT AS (
                SELECT ti.doc_id, ti.idx, ti.tok
                FROM TI ti LEFT JOIN REM r
                  ON ti.doc_id = r.doc_id AND ti.idx = r.rp
                WHERE r.rp IS NULL
            ),
            NT AS (SELECT doc_id, len(toks) AS n_tokens FROM W)
            SELECT n.doc_id,
                   CAST(n.n_tokens AS INT) AS n_tokens,
                   CAST(n.n_tokens - COUNT(k.idx) AS BIGINT) AS n_removed,
                   md5(COALESCE(
                       array_to_string(
                           array_agg(k.tok ORDER BY k.idx), ','),
                       '')) AS scrub_hash
            FROM NT n LEFT JOIN KEPT k ON n.doc_id = k.doc_id
            GROUP BY n.doc_id, n.n_tokens
        """,
        "token_contamination": """
            WITH W AS (
                SELECT doc_id,
                       list_transform(string_split(text, ' '),
                                      x -> CAST(length(x) AS VARCHAR))
                           AS toks
                FROM documents
            ),
            S AS (
                SELECT doc_id,
                       array_to_string(toks[CAST(i AS INT)
                                            : CAST(i AS INT) + 3], ',')
                           AS sh
                FROM W,
                     UNNEST(range(1, GREATEST(len(toks) - 4 + 1, 1) + 1))
                         AS t(i)
                WHERE len(toks) > 0
            ),
            B AS (SELECT DISTINCT sh, doc_id AS bdoc FROM S
                  WHERE doc_id % 7 = 0),
            C AS (SELECT doc_id, sh FROM S WHERE doc_id % 7 <> 0)
            SELECT c.doc_id,
                   CAST(COUNT(DISTINCT c.sh) AS BIGINT) AS n_hits,
                   CAST(COUNT(DISTINCT b.bdoc) AS BIGINT) AS n_bench_docs
            FROM C c JOIN B b ON c.sh = b.sh
            GROUP BY c.doc_id
            HAVING COUNT(DISTINCT c.sh) >= 1
        """,
        "quality_gate_survivors": """
            WITH W AS (
                SELECT doc_id, text,
                       list_transform(string_split(text, ' '),
                                      x -> length(x)) AS toks
                FROM documents
            ),
            U AS (
                SELECT doc_id, UNNEST(toks) AS tok,
                       UNNEST(range(1, len(toks) + 1)) AS i
                FROM W
            ),
            R AS (
                SELECT doc_id, tok, i,
                       i - ROW_NUMBER() OVER (PARTITION BY doc_id, tok
                                              ORDER BY i) AS grp
                FROM U
            ),
            RUNS AS (
                SELECT doc_id, COUNT(*) AS run_len
                FROM R GROUP BY doc_id, tok, grp
            ),
            MX AS (SELECT doc_id, MAX(run_len) AS max_run FROM RUNS
                   GROUP BY doc_id),
            NG AS (
                SELECT doc_id, array_to_string(w[i : i + 2], ' ') AS g
                FROM (SELECT doc_id, string_split(text, ' ') AS w
                      FROM documents) s,
                     UNNEST(range(1, GREATEST(len(w) - 1, 2))) AS t(i)
            ),
            PC AS (
                SELECT doc_id, g, COUNT(*) AS c FROM NG GROUP BY doc_id, g
            ),
            REP AS (
                SELECT doc_id,
                       ROUND(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1.0
                             / SUM(c), 4) AS dup_ngram_frac
                FROM PC GROUP BY doc_id
            ),
            PII AS (
                SELECT doc_id,
                       (len(regexp_extract_all(text,
                          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                        + len(regexp_extract_all(text,
                          '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                        + len(regexp_extract_all(text,
                          '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b'))) > 0
                           AS has_pii
                FROM W
            )
            SELECT w.doc_id,
                   CAST(len(w.toks) AS BIGINT) AS n_tokens,
                   ROUND(m.max_run * 1.0 / len(w.toks), 4) AS max_run_frac,
                   r.dup_ngram_frac
            FROM W w
            JOIN MX m USING (doc_id)
            JOIN REP r USING (doc_id)
            JOIN PII p USING (doc_id)
            WHERE ROUND(m.max_run * 1.0 / len(w.toks), 4) <= 0.1
              AND r.dup_ngram_frac <= 0.6
              AND NOT p.has_pii
              AND len(w.toks) BETWEEN 20 AND 200
        """,
        "unigram_logloss": """
            WITH W AS (
                SELECT doc_id,
                       list_transform(string_split(text, ' '),
                                      x -> length(x)) AS toks
                FROM documents
            ),
            U AS (SELECT doc_id, UNNEST(toks) AS tok FROM W),
            C AS (SELECT tok, COUNT(*) AS c FROM U GROUP BY tok),
            T AS (SELECT CAST(SUM(c) AS BIGINT) AS tt FROM C),
            -- fixed-point log-probs: integer per-doc sums are
            -- order-free, so SUM needs no ORDER BY to match Spark
            LP AS (
                SELECT tok,
                       CAST(FLOOR((log2(CAST(c AS DOUBLE))
                                   - log2(CAST(tt AS DOUBLE)))
                                  * 1048576.0) AS BIGINT) AS lp
                FROM C CROSS JOIN T
            ),
            S AS (
                SELECT u.doc_id, CAST(SUM(lp.lp) AS BIGINT) AS s,
                       CAST(COUNT(*) AS BIGINT) AS k
                FROM U u JOIN LP lp USING (tok) GROUP BY u.doc_id
            )
            SELECT w.doc_id,
                   CAST(len(w.toks) AS BIGINT) AS n_tokens,
                   CAST(len(w.toks) - COALESCE(s.k, 0) AS BIGINT)
                       AS n_oov,
                   CASE WHEN s.k > 0 THEN
                       ROUND((-CAST(s.s AS DOUBLE) / 1048576.0) / s.k, 4)
                   END AS bits_per_token
            FROM W w LEFT JOIN S s USING (doc_id)
        """,
        "c4_line_filter": """
            WITH S AS (
                SELECT doc_id,
                       text || chr(10) || 'lorem ipsum junk {'
                            || chr(10)
                            || 'This sentence is properly terminated.'
                           AS text
                FROM documents
            ),
            L AS (
                SELECT doc_id, string_split(text, chr(10)) AS ls,
                       list_filter(string_split(text, chr(10)),
                           x -> len(regexp_extract_all(x, '\\S+')) >= 3
                                AND regexp_matches(x, '[.!?"]\\s*$')
                                AND NOT contains(x, '{')
                                AND NOT contains(lower(x), 'lorem ipsum')
                       ) AS kept
                FROM S
            )
            SELECT doc_id,
                   md5(array_to_string(kept, chr(10))) AS filtered_hash,
                   CAST(len(ls) AS BIGINT) AS n_lines,
                   CAST(len(kept) AS BIGINT) AS n_kept
            FROM L
        """,
        "mojibake_scan": """
            WITH S AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 9 = 0 THEN
                           text || ' damaged �� ctrl ' || chr(1) || ' end'
                       ELSE text END AS text
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(text) AS BIGINT) AS n_chars_scanned,
                   CAST(len(regexp_extract_all(text, '�')) AS BIGINT)
                       AS n_replacement,
                   CAST(len(regexp_extract_all(text,
                       '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]'))
                       AS BIGINT) AS n_control,
                   CASE WHEN len(text) > 0 THEN
                       ROUND((len(regexp_extract_all(text, '�'))
                              + len(regexp_extract_all(text,
                          '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]')))
                             * 1.0 / len(text), 6)
                   ELSE 0.0 END AS bad_frac,
                   (CASE WHEN len(text) > 0 THEN
                       (len(regexp_extract_all(text, '�'))
                        + len(regexp_extract_all(text,
                          '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]')))
                       * 1.0 / len(text)
                   ELSE 0.0 END) > 0.002 AS bad_encoding
            FROM S
        """,
        "pii_scrub": """
            WITH S AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 10 = 0 THEN
                           text || ' contact user' || doc_id
                           || '@example.com or 555-867-5309 from 10.0.0.'
                           || CAST(doc_id % 256 AS VARCHAR)
                       ELSE text END AS text
                FROM documents
            )
            -- replacements applied in sorted-kind order (email, ipv4,
            -- phone), innermost first, 'g' = replace ALL (Spark's
            -- regexp_replace default); counts are over the ORIGINAL text
            SELECT doc_id,
                   md5(regexp_replace(regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                       '<IPV4>', 'g'),
                       '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b',
                       '<PHONE>', 'g')) AS scrub_hash,
                   CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                    + len(regexp_extract_all(text,
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                    + len(regexp_extract_all(text,
                       '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS BIGINT)
                       AS n_redactions
            FROM S
        """,
        "pii_scan": """
            WITH S AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 10 = 0 THEN
                           text || ' contact user' || doc_id
                           || '@example.com or 555-867-5309 from 10.0.0.'
                           || CAST(doc_id % 256 AS VARCHAR)
                       ELSE text END AS text
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'
                   )) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text,
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'
                   )) AS BIGINT) AS n_ipv4,
                   CAST(len(regexp_extract_all(text,
                       '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b'
                   )) AS BIGINT) AS n_phone,
                   (len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                    + len(regexp_extract_all(text,
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                    + len(regexp_extract_all(text,
                       '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b'))) > 0
                       AS has_pii
            FROM S
        """,
        "source_shares": """
            WITH C AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       CAST(COUNT(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY 1
            ),
            T AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot FROM C)
            SELECT grp AS "group", n_docs,
                   ROUND(n_docs * 1.0 / tot, 6) AS share,
                   ROUND(SUM(n_docs) OVER (ORDER BY n_docs DESC, grp ASC)
                         * 1.0 / tot, 6) AS cum_share,
                   CAST(ROW_NUMBER() OVER (ORDER BY n_docs DESC, grp ASC)
                        AS INT) AS rank
            FROM C CROSS JOIN T
        """,
        "source_concentration": """
            WITH M AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       CAST(COUNT(*) AS BIGINT) AS mass
                FROM documents GROUP BY 1
            ),
            R AS (
                SELECT grp, mass,
                       CAST(ROW_NUMBER() OVER (ORDER BY mass ASC, grp ASC)
                            AS BIGINT) AS i
                FROM M
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(SUM(mass) AS BIGINT) AS total,
                   arg_max(grp, i) AS top_group,
                   ROUND(CAST(MAX(mass) AS DOUBLE)
                         / CAST(SUM(mass) AS DOUBLE), 6) AS top_share,
                   ROUND(SUM(CAST(mass AS DOUBLE) * CAST(mass AS DOUBLE)
                             ORDER BY i)
                         / (CAST(SUM(mass) AS DOUBLE)
                            * CAST(SUM(mass) AS DOUBLE)), 6) AS hhi,
                   ROUND(2.0 * CAST(SUM(i * mass) AS DOUBLE)
                         / (CAST(COUNT(*) AS DOUBLE)
                            * CAST(SUM(mass) AS DOUBLE))
                         - (CAST(COUNT(*) AS DOUBLE) + 1.0)
                           / CAST(COUNT(*) AS DOUBLE), 6) AS gini
            FROM R
        """,
        "order_violations": """
            WITH d AS (
                SELECT ROW_NUMBER() OVER (ORDER BY r_regionkey) - 1 AS idx,
                       r_name AS actual
                FROM region
            ),
            req(idx, expected) AS (
                VALUES (0, 'AFRICA'), (1, 'AMERICA'), (2, 'ASIA'),
                       (3, 'EUROPE'), (4, 'MOONBASE'), (5, 'ATLANTIS')
            ),
            j AS (
                SELECT COALESCE(d.idx, req.idx) AS idx, d.actual,
                       req.expected,
                       d.idx IS NOT NULL AS has_a,
                       req.idx IS NOT NULL AS has_b
                FROM d FULL OUTER JOIN req ON d.idx = req.idx
            ),
            m AS (
                SELECT * FROM j
                WHERE has_a <> has_b
                   OR (has_a AND has_b
                       AND actual IS DISTINCT FROM expected)
            )
            SELECT 'extra' AS kind, CAST(idx AS INT) AS idx,
                   actual AS val
            FROM m WHERE has_a
            UNION ALL
            SELECT 'missing' AS kind, CAST(idx AS INT) AS idx,
                   expected AS val
            FROM m WHERE has_b
        """,
        "accepted_count_budget": """
            WITH v AS (
                SELECT 'deviation' AS kind,
                       CAST(c_custkey AS VARCHAR) AS doc_id,
                       CAST(c_acctbal AS VARCHAR) AS value_s,
                       CAST(c_acctbal AS DOUBLE) AS value_d,
                       CAST(c_acctbal AS DOUBLE) - 0.0 AS deviation
                FROM customer
                WHERE NOT COALESCE(c_acctbal >= 0, FALSE)
            ),
            r AS (
                SELECT *,
                       ROW_NUMBER() OVER (
                           ORDER BY kind ASC NULLS LAST,
                                    value_s ASC NULLS LAST,
                                    deviation ASC NULLS LAST,
                                    doc_id ASC NULLS LAST
                       ) AS rn
                FROM v
            )
            SELECT kind, doc_id, value_d AS value,
                   ROUND(deviation, 4) AS deviation
            FROM r WHERE rn > 100
        """,
        "bigram_logloss": """
            WITH T AS (
                SELECT doc_id, string_split(text, ' ') AS tk
                FROM documents
            ),
            P AS (
                SELECT doc_id,
                       tk[CAST(i AS INT)] AS t1,
                       tk[CAST(i AS INT) + 1] AS t2
                FROM T,
                     UNNEST(range(1, GREATEST(len(tk) - 1, 0) + 1))
                         AS u(i)
                WHERE len(tk) >= 2
            ),
            M AS (
                SELECT t1, t2,
                       CAST(FLOOR((LOG2(COUNT(*))
                                   - LOG2(SUM(COUNT(*))
                                          OVER (PARTITION BY t1)))
                                  * 1048576.0) AS BIGINT) AS lp
                FROM P GROUP BY t1, t2
            ),
            S AS (
                SELECT p.doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_pairs,
                       CAST(COUNT(m.lp) AS BIGINT) AS k,
                       CAST(SUM(m.lp) AS BIGINT) AS s
                FROM P p
                LEFT JOIN M m ON p.t1 = m.t1 AND p.t2 = m.t2
                GROUP BY p.doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(s.n_pairs, 0) AS BIGINT) AS n_pairs,
                   CAST(COALESCE(s.n_pairs, 0) - COALESCE(s.k, 0)
                        AS BIGINT) AS n_oov_pairs,
                   CASE WHEN s.k > 0
                        THEN ROUND((-(CAST(s.s AS DOUBLE)) / 1048576.0)
                                   / s.k, 4)
                   END AS bits_per_pair
            FROM documents d LEFT JOIN S s USING (doc_id)
        """,
        "context_length_profile": """
            SELECT COALESCE(source, '__null__') AS "group",
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_tokens,
                   CAST(MAX(n_chars) AS BIGINT) AS max_len,
                   ROUND(quantile_cont(n_chars, 0.5), 4) AS p50_len,
                   ROUND(quantile_cont(n_chars, 0.95), 4) AS p95_len,
                   CAST(SUM(CASE WHEN n_chars > 512 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_over,
                   CASE WHEN SUM(n_chars) > 0 THEN
                       ROUND(CAST(SUM(GREATEST(n_chars - 512, 0)) AS DOUBLE)
                             / CAST(SUM(n_chars) AS DOUBLE), 6)
                   END AS overflow_token_frac,
                   CAST(CEIL(CAST(SUM(n_chars) AS DOUBLE) / 512.0)
                        AS BIGINT) AS packs_needed
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars >= 0
            GROUP BY 1
        """,
        "mixture_plan": """
            WITH A AS (
                SELECT COALESCE(source, '__null__') AS source,
                       CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(n_chars) AS BIGINT) AS available_tokens
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars >= 0
                GROUP BY 1
            ),
            T(source, target_tokens) AS (
                VALUES ('src0', 4000), ('src1', 20000), ('src2', 0)
            )
            SELECT a.source, a.n_docs, a.available_tokens,
                   CAST(COALESCE(t.target_tokens, 0) AS BIGINT)
                       AS target_tokens,
                   CASE WHEN a.available_tokens > 0
                        THEN ROUND(COALESCE(
                            CAST(t.target_tokens AS DOUBLE)
                            / a.available_tokens, 0.0), 6)
                        ELSE 0.0
                   END AS rate
            FROM A a LEFT JOIN T t USING (source)
        """,
        "self_repetition_spans": """
            WITH W AS (
                SELECT doc_id,
                       list_transform(string_split(text, ' '),
                                      x -> CAST(length(x) AS VARCHAR))
                           AS toks
                FROM documents
            ),
            P AS (
                SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                       array_to_string(toks[CAST(i AS INT)
                                            : CAST(i AS INT) + 4], ',')
                           AS sh
                FROM W,
                     UNNEST(range(1, GREATEST(len(toks) - 5 + 1, 0) + 1))
                         AS t(i)
                WHERE len(toks) >= 5
            ),
            D AS (
                SELECT doc_id, pos FROM (
                    SELECT doc_id, pos,
                           MIN(pos) OVER (PARTITION BY doc_id, sh)
                               AS first_pos
                    FROM P
                ) WHERE pos > first_pos
            ),
            FL AS (
                SELECT doc_id, pos,
                       CASE WHEN pos <= LAG(pos) OVER (
                                PARTITION BY doc_id ORDER BY pos) + 5
                            THEN 0 ELSE 1 END AS nw
                FROM D
            ),
            ISL AS (
                SELECT doc_id, pos,
                       SUM(nw) OVER (PARTITION BY doc_id
                                     ORDER BY pos) AS isl
                FROM FL
            )
            SELECT doc_id,
                   CAST(MIN(pos) AS INT) AS span_start,
                   CAST(MAX(pos) + 5 AS INT) AS span_end,
                   CAST(COUNT(*) AS BIGINT) AS n_windows
            FROM ISL GROUP BY doc_id, isl
        """,
        "token_boundary_violations": """
            WITH S AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 4 <> 0 THEN
                           '<s> ' || text || ' </s>'
                       ELSE text END AS text
                FROM documents
            ),
            T AS (
                SELECT doc_id,
                       list_transform(string_split(text, ' '),
                                      x -> len(x)) AS toks
                FROM S
            )
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(toks[1] AS VARCHAR) || '..'
                       || CAST(toks[-1] AS VARCHAR) AS value,
                   'bos=3,eos=4' AS expected
            FROM T
            WHERE NOT (toks[1] = 3 AND toks[-1] = 4)
        """,
        "length_bound_violations": """
            SELECT 'length_bound' AS check_id,
                   CASE WHEN n_chars IS NULL THEN 'invalid'
                        ELSE 'deviation' END AS kind,
                   'source=' || COALESCE(source, '__null__')
                       AS partition_key,
                   CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(n_chars AS BIGINT) AS value,
                   '[150,400]' AS expected,
                   CASE WHEN n_chars IS NULL THEN NULL
                        WHEN n_chars < 150
                            THEN ROUND(CAST(n_chars AS DOUBLE) - 150.0, 4)
                        ELSE ROUND(CAST(n_chars AS DOUBLE) - 400.0, 4)
                   END AS deviation
            FROM documents
            WHERE n_chars IS NULL OR n_chars < 150 OR n_chars > 400
        """,
        "hash_split": """
            WITH U AS (
                SELECT doc_id,
                       CAST(CONCAT('0x',
                           substr(md5(doc_id || '#split#0'), 1, 4))
                           AS INT) / 65536.0 AS u
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN u < 0.75 THEN 'train'
                        WHEN u < 0.875 THEN 'val'
                        ELSE 'test' END AS split
            FROM U
        """,
        "containment_pairs": """
            WITH {cte},
            SC AS (
                SELECT doc_id, shingle FROM S
                WHERE shingle IN (SELECT shingle FROM S
                                  GROUP BY shingle HAVING COUNT(*) <= 1000)
            ),
            SZ AS (SELECT doc_id, COUNT(*) AS n_sh FROM SC GROUP BY doc_id),
            INTER AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       COUNT(*) AS n_inter
                FROM SC a JOIN SC b ON a.shingle = b.shingle
                                   AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   ROUND(n_inter * 1.0 / sa.n_sh, 4) AS containment_ab,
                   ROUND(n_inter * 1.0 / sb.n_sh, 4) AS containment_ba,
                   ROUND(n_inter * 1.0
                         / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE),
                         4) AS jaccard
            FROM INTER
            JOIN SZ sa ON sa.doc_id = doc_a
            JOIN SZ sb ON sb.doc_id = doc_b
            WHERE n_inter * 1.0 / sa.n_sh >= 0.5
               OR n_inter * 1.0 / sb.n_sh >= 0.5
        """.format(cte=_SHINGLE_CTE),
        "accepted_percent": """
            WITH V AS (
                SELECT CASE WHEN l_quantity IS NULL THEN 'invalid'
                            ELSE 'deviation' END AS kind,
                       CAST(l_quantity AS DOUBLE) AS value_d,
                       CASE WHEN l_quantity < 2 THEN 2.0
                            ELSE 49.0 END AS exp,
                       CASE WHEN l_quantity IS NULL THEN NULL
                            ELSE CAST(l_quantity AS DOUBLE)
                                 - (CASE WHEN l_quantity < 2 THEN 2.0
                                         ELSE 49.0 END)
                       END AS dev
                FROM lineitem
                WHERE NOT COALESCE(l_quantity >= 2 AND l_quantity <= 49,
                                   FALSE)
            )
            SELECT kind, value_d AS value,
                   CAST(exp AS VARCHAR) AS expected,
                   ROUND(dev, 4) AS deviation
            FROM V
            WHERE NOT COALESCE(
                kind = 'deviation' AND (
                    (exp IS NOT NULL AND exp <> 0 AND dev IS NOT NULL
                     AND NOT isnan(dev)
                     AND dev / exp BETWEEN -0.05 AND 0.05)
                    OR ((exp IS NULL OR exp = 0)
                        AND (dev IS NULL OR dev = 0))
                ), FALSE)
        """,
        "quality_bands": """
            SELECT doc_id, source, n_chars,
                   CAST(NTILE(10) OVER (
                       PARTITION BY source
                       ORDER BY n_chars ASC NULLS FIRST, doc_id ASC
                   ) AS INT) AS band
            FROM documents
        """,
        "pack_whole_docs": """
            WITH FITS AS (
                SELECT doc_id, source, n_chars AS len,
                       ROW_NUMBER() OVER (
                           PARTITION BY source ORDER BY doc_id
                       ) AS rn
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars >= 0
                  AND n_chars <= 512
            ),
            RECURSIVE_PACK AS (
                WITH RECURSIVE R AS (
                    SELECT doc_id, source, len, rn,
                           CAST(0 AS BIGINT) AS pack_id,
                           CAST(0 AS BIGINT) AS pack_off,
                           len AS off_end
                    FROM FITS WHERE rn = 1
                    UNION ALL
                    SELECT f.doc_id, f.source, f.len, f.rn,
                           CASE WHEN r.off_end + f.len > 512 OR r.off_end >= 512
                                THEN r.pack_id + 1 ELSE r.pack_id END,
                           CASE WHEN r.off_end + f.len > 512 OR r.off_end >= 512
                                THEN 0 ELSE r.off_end END,
                           CASE WHEN r.off_end + f.len > 512 OR r.off_end >= 512
                                THEN f.len ELSE r.off_end + f.len END
                    FROM R r JOIN FITS f
                      ON f.source IS NOT DISTINCT FROM r.source
                     AND f.rn = r.rn + 1
                )
                SELECT * FROM R
            )
            SELECT doc_id, source, pack_id,
                   CAST(pack_off AS INT) AS pack_offset,
                   CAST(len AS INT) AS seq_len, TRUE AS fits
            FROM RECURSIVE_PACK
            UNION ALL
            SELECT doc_id, source, CAST(NULL AS BIGINT),
                   CAST(NULL AS INT),
                   CAST(n_chars AS INT), FALSE
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 512
        """,
        "zipf_fit": """
            WITH TOK AS (
                SELECT source AS grp,
                       UNNEST(string_split(text, ' ')) AS token
                FROM documents
            ),
            C AS (
                SELECT grp, token, COUNT(*) AS n FROM TOK
                GROUP BY grp, token
            ),
            R AS (
                SELECT grp, n,
                       ROW_NUMBER() OVER (
                           PARTITION BY grp ORDER BY n DESC, token ASC
                       ) AS rank
                FROM C
            ),
            XY AS (
                SELECT grp,
                       CAST(FLOOR(LOG2(rank) * 1024) AS BIGINT) AS x,
                       CAST(FLOOR(LOG2(n) * 1024) AS BIGINT) AS y
                FROM R WHERE rank <= 10000
            ),
            S AS (
                SELECT grp, CAST(COUNT(*) AS BIGINT) AS k,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx,
                       CAST(SUM(y * y) AS BIGINT) AS syy
                FROM XY GROUP BY grp
            )
            SELECT grp AS "group", k AS vocab_k,
                   CASE WHEN k * sxx - sx * sx > 0 THEN
                       ROUND(CAST(k * sxy - sx * sy AS DOUBLE)
                             / CAST(k * sxx - sx * sx AS DOUBLE), 4)
                   END AS slope,
                   CASE WHEN k * sxx - sx * sx > 0
                         AND k * syy - sy * sy > 0 THEN
                       ROUND((CAST(k * sxy - sx * sy AS DOUBLE)
                              * CAST(k * sxy - sx * sy AS DOUBLE))
                             / (CAST(k * sxx - sx * sx AS DOUBLE)
                                * CAST(k * syy - sy * sy AS DOUBLE)), 4)
                   END AS r2
            FROM S
        """,
        "cross_source_duplication": """
            WITH K AS (
                SELECT substr(text, 1, 40) AS kt,
                       COALESCE(source, '__null__') AS g
                FROM documents WHERE text IS NOT NULL
            ),
            PER AS (SELECT DISTINCT md5(kt) AS h, g FROM K),
            CROSSP AS (
                SELECT a.g AS source_a, b.g AS source_b,
                       CAST(COUNT(*) AS BIGINT) AS n_shared_texts
                FROM PER a JOIN PER b ON a.h = b.h AND a.g < b.g
                GROUP BY a.g, b.g
            ),
            WITHIN AS (
                SELECT g AS source_a, g AS source_b,
                       CAST(COUNT(*) AS BIGINT) AS n_shared_texts
                FROM (
                    SELECT md5(kt) AS h, g, COUNT(*) AS docs
                    FROM K GROUP BY 1, 2 HAVING COUNT(*) >= 2
                )
                GROUP BY g
            )
            SELECT * FROM CROSSP UNION ALL SELECT * FROM WITHIN
        """,
        "paragraph_dups": """
            WITH E AS (
                SELECT doc_id, p, md5(p) AS par_hash
                FROM (
                    SELECT doc_id,
                           trim(regexp_replace(u.p, '[ \\t\\n\\r\\f]+', ' ', 'g')) AS p
                    FROM documents,
                         UNNEST(regexp_split_to_array(text, ' the ')) AS u(p)
                    WHERE text IS NOT NULL
                )
                WHERE length(p) >= 1
            )
            SELECT par_hash,
                   MIN(p) AS paragraph,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                   MIN(doc_id) AS first_doc_id
            FROM E
            GROUP BY par_hash
            HAVING COUNT(DISTINCT doc_id) >= 2
        """,
        "paragraph_dup_profile": """
            WITH E AS (
                SELECT doc_id, p, md5(p) AS par_hash
                FROM (
                    SELECT doc_id,
                           trim(regexp_replace(u.p, '[ \\t\\n\\r\\f]+', ' ', 'g')) AS p
                    FROM documents,
                         UNNEST(regexp_split_to_array(text, ' the ')) AS u(p)
                    WHERE text IS NOT NULL
                )
                WHERE length(p) >= 1
            ),
            D AS (
                SELECT par_hash, COUNT(DISTINCT doc_id) AS nd
                FROM E GROUP BY par_hash
            )
            SELECT e.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
                   CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dup_paragraphs,
                   ROUND(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END)
                         / COUNT(*), 6) AS dup_paragraph_frac,
                   CASE WHEN SUM(length(e.p)) > 0 THEN
                       ROUND(SUM(CASE WHEN d.nd >= 2 THEN length(e.p)
                                      ELSE 0 END)
                             / SUM(length(e.p)), 6)
                   END AS dup_char_frac
            FROM E e JOIN D d USING (par_hash)
            GROUP BY e.doc_id
        """,
        "scrub_paragraphs": """
            WITH RAW AS (
                SELECT doc_id, i,
                       trim(regexp_replace(arr[i], '[ \\t\\n\\r\\f]+', ' ', 'g')) AS p
                FROM (
                    SELECT doc_id,
                           regexp_split_to_array(text, ' the ') AS arr
                    FROM documents WHERE text IS NOT NULL
                ), UNNEST(range(1, len(arr) + 1)) AS t(i)
            ),
            E AS (
                SELECT doc_id, p, md5(p) AS par_hash,
                       ROW_NUMBER() OVER (
                           PARTITION BY doc_id ORDER BY i
                       ) - 1 AS pos
                FROM RAW WHERE length(p) >= 1
            ),
            W AS (
                SELECT *,
                       COUNT(DISTINCT doc_id) OVER (
                           PARTITION BY par_hash
                       ) AS nd,
                       ROW_NUMBER() OVER (
                           PARTITION BY par_hash ORDER BY doc_id, pos
                       ) AS rn
                FROM E
            ),
            M AS (
                SELECT doc_id, pos, p,
                       (nd >= 2 AND rn > 1) AS rm
                FROM W
            ),
            A AS (
                SELECT doc_id,
                       string_agg(CASE WHEN NOT rm THEN p END, ' the '
                                  ORDER BY pos) AS clean_agg,
                       CAST(SUM(CASE WHEN rm THEN 0 ELSE 1 END)
                            AS BIGINT) AS n_kept,
                       CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_removed
                FROM M GROUP BY doc_id
            )
            SELECT b.doc_id,
                   COALESCE(a.clean_agg, '') AS clean_text,
                   COALESCE(a.n_kept, 0) AS n_kept,
                   COALESCE(a.n_removed, 0) AS n_removed
            FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) b
            LEFT JOIN A a USING (doc_id)
        """,
        "dsir_weights": """
            WITH TOK AS (
                SELECT doc_id, u.tok AS tok,
                       CAST(('0x' || substr(md5(u.tok), 1, 15)) AS BIGINT)
                       % 4096 AS bucket
                FROM (
                    SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents WHERE text IS NOT NULL
                ), UNNEST(w) AS u(tok)
            ),
            TT AS (
                SELECT t.bucket FROM TOK t
                JOIN documents d USING (doc_id)
                WHERE d.lang = 'en'
            ),
            DOM AS (SELECT CAST(r AS BIGINT) AS bucket
                    FROM range(4096) AS t(r)),
            CB AS (SELECT bucket, COUNT(*) AS c FROM TOK GROUP BY bucket),
            TB AS (SELECT bucket, COUNT(*) AS c FROM TT GROUP BY bucket),
            NC AS (SELECT COUNT(*) AS t FROM TOK),
            NT AS (SELECT COUNT(*) AS t FROM TT),
            LPC AS (
                SELECT d.bucket,
                       CAST(FLOOR((log2(COALESCE(cb.c, 0) + 1)
                                   - log2(nc.t + 4096)) * 1048576.0)
                            AS BIGINT) AS lp
                FROM DOM d LEFT JOIN CB cb USING (bucket), NC nc
            ),
            LPT AS (
                SELECT d.bucket,
                       CAST(FLOOR((log2(COALESCE(tb.c, 0) + 1)
                                   - log2(nt.t + 4096)) * 1048576.0)
                            AS BIGINT) AS lp
                FROM DOM d LEFT JOIN TB tb USING (bucket), NT nt
            ),
            DELTA AS (
                SELECT lpt.bucket, lpt.lp - lpc.lp AS dl
                FROM LPT lpt JOIN LPC lpc USING (bucket)
            )
            SELECT t.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   ROUND(SUM(dl) / 1048576.0, 4) AS logratio_bits,
                   ROUND((SUM(dl) / 1048576.0) / COUNT(*), 6)
                       AS logratio_bits_per_token
            FROM TOK t JOIN DELTA USING (bucket)
            GROUP BY t.doc_id
        """,
        "snapshot_delta": """
            WITH O AS (
                SELECT DISTINCT md5(text) AS h,
                       COALESCE(source, '__null__') AS g
                FROM documents
                WHERE text IS NOT NULL AND doc_id % 10 <= 7
            ),
            N AS (
                SELECT DISTINCT md5(text) AS h,
                       COALESCE(source, '__null__') AS g
                FROM documents
                WHERE text IS NOT NULL AND doc_id % 10 >= 2
            ),
            J AS (
                SELECT COALESCE(o.g, n.g) AS g,
                       o.h IS NOT NULL AS io,
                       n.h IS NOT NULL AS inn
                FROM O o FULL OUTER JOIN N n
                  ON o.h = n.h AND o.g = n.g
            )
            SELECT g AS source,
                   CAST(SUM(CASE WHEN io THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_old,
                   CAST(SUM(CASE WHEN inn THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_new,
                   CAST(SUM(CASE WHEN inn AND NOT io THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_added,
                   CAST(SUM(CASE WHEN io AND NOT inn THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_removed,
                   CAST(SUM(CASE WHEN io AND inn THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_common
            FROM J GROUP BY g
        """,
        "temperature_mixture": """
            WITH A AS (
                SELECT COALESCE(source, '__null__') AS source,
                       CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT)
                           AS available_tokens
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars >= 0
                GROUP BY 1
            ),
            W AS (
                SELECT *,
                       CASE WHEN available_tokens > 0
                            THEN POW(CAST(available_tokens AS DOUBLE), 0.5)
                            ELSE 0.0 END AS w
                FROM A
            ),
            D AS (SELECT SUM(w) AS dw FROM W)
            SELECT w.source, w.n_docs, w.available_tokens,
                   ROUND(CASE WHEN d.dw > 0 THEN w.w / d.dw
                              ELSE 0.0 END, 6) AS share,
                   CAST(FLOOR((CASE WHEN d.dw > 0 THEN w.w / d.dw
                                    ELSE 0.0 END) * 100000)
                        AS BIGINT) AS target_tokens,
                   CASE WHEN w.available_tokens > 0 THEN
                       ROUND(COALESCE(
                           CAST(FLOOR((CASE WHEN d.dw > 0
                                            THEN w.w / d.dw
                                            ELSE 0.0 END) * 100000)
                                AS BIGINT)
                           / w.available_tokens, 0.0), 6)
                   ELSE 0.0 END AS rate
            FROM W w, D d
        """,
        "doc_chunks": """
            SELECT doc_id,
                   CAST(s // 80 AS INT) AS chunk_index,
                   CAST(s AS INT) AS chunk_start,
                   CAST(length(substr(text, CAST(s AS INT) + 1, 120))
                        AS INT) AS chunk_len,
                   substr(text, CAST(s AS INT) + 1, 120) AS chunk
            FROM (
                SELECT doc_id, text,
                       UNNEST(range(0, length(text), 80)) AS s
                FROM documents
                WHERE text IS NOT NULL AND length(text) >= 20
            )
            WHERE length(substr(text, CAST(s AS INT) + 1, 120)) >= 20
        """,
        "normalized_dup_groups": """
            WITH N AS (
                SELECT doc_id,
                       trim(regexp_replace(
                           regexp_replace(
                               lower(text),
                               '[^\\p{L}\\p{N} \\t\\n\\r\\f]', '', 'g'),
                           '[ \\t\\n\\r\\f]+', ' ', 'g')) AS norm0
                FROM documents
            ),
            P AS (SELECT doc_id, substr(norm0, 1, 80) AS norm FROM N)
            SELECT md5(norm) AS content_hash,
                   COUNT(*) AS n_docs,
                   list_sort(list(doc_id)) AS doc_ids
            FROM P GROUP BY 1 HAVING COUNT(*) > 1
        """,
        "surprisal_profile": """
            WITH W AS (
                SELECT doc_id,
                       list_transform(string_split(text, ' '),
                                      x -> length(x)) AS toks
                FROM documents
            ),
            U AS (SELECT doc_id, UNNEST(toks) AS tok FROM W),
            C AS (SELECT tok, COUNT(*) AS c FROM U GROUP BY tok),
            T AS (SELECT CAST(SUM(c) AS BIGINT) AS tt FROM C),
            LP AS (
                SELECT tok,
                       CAST(FLOOR((log2(CAST(c AS DOUBLE))
                                   - log2(CAST(tt AS DOUBLE)))
                                  * 1048576.0) AS BIGINT) AS lp
                FROM C CROSS JOIN T
            ),
            -- exact integer moments (HUGEINT = Spark's DECIMAL(38,0)):
            -- doubles enter only AFTER the sums close, same op order
            S AS (
                SELECT u.doc_id, CAST(SUM(lp.lp) AS BIGINT) AS s,
                       SUM(CAST(lp.lp AS HUGEINT) * lp.lp) AS ss,
                       CAST(COUNT(*) AS BIGINT) AS k,
                       MIN(lp.lp) AS mn
                FROM U u JOIN LP lp USING (tok) GROUP BY u.doc_id
            )
            SELECT w.doc_id,
                   CAST(len(w.toks) AS BIGINT) AS n_tokens,
                   CAST(len(w.toks) - COALESCE(s.k, 0) AS BIGINT)
                       AS n_oov,
                   CASE WHEN s.k > 0 THEN
                       ROUND((-CAST(s.s AS DOUBLE) / 1048576.0) / s.k, 4)
                   END AS bits_mean,
                   CASE WHEN s.k > 0 THEN
                       ROUND(SQRT(GREATEST(
                           CAST(s.ss AS DOUBLE) / s.k
                           - (CAST(s.s AS DOUBLE) / s.k)
                             * (CAST(s.s AS DOUBLE) / s.k), 0))
                           / 1048576.0, 4)
                   END AS bits_std,
                   CASE WHEN s.k > 0 THEN
                       ROUND(-CAST(s.mn AS DOUBLE) / 1048576.0, 4)
                   END AS bits_max
            FROM W w LEFT JOIN S s USING (doc_id)
        """,
        "surprisal_spans": """
            -- -3670016 = floor(-3.5 * 2^20): the fixed-point span
            -- threshold, integer-compared on both engines
            WITH W AS (
                SELECT doc_id,
                       list_transform(string_split(text, ' '),
                                      x -> length(x)) AS toks
                FROM documents
            ),
            U AS (
                SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                       toks[CAST(i AS INT)] AS tok
                FROM W, UNNEST(range(1, len(toks) + 1)) AS u(i)
            ),
            C AS (SELECT tok, COUNT(*) AS c FROM U GROUP BY tok),
            T AS (SELECT CAST(SUM(c) AS BIGINT) AS tt FROM C),
            LP AS (
                SELECT tok,
                       CAST(FLOOR((log2(CAST(c AS DOUBLE))
                                   - log2(CAST(tt AS DOUBLE)))
                                  * 1048576.0) AS BIGINT) AS lp
                FROM C CROSS JOIN T
            ),
            FL AS (
                SELECT u.doc_id, u.pos, lp.lp
                FROM U u LEFT JOIN LP lp ON u.tok = lp.tok
                WHERE lp.lp IS NULL OR lp.lp <= -3670016
            ),
            G AS (
                SELECT doc_id, pos, lp,
                       pos - ROW_NUMBER() OVER (
                           PARTITION BY doc_id ORDER BY pos
                       ) AS isl
                FROM FL
            ),
            S AS (
                SELECT doc_id,
                       CAST(MIN(pos) AS INT) AS span_start,
                       CAST(MAX(pos) + 1 AS INT) AS span_end,
                       CAST(COUNT(*) AS INT) AS span_len,
                       CAST(COUNT(lp) AS BIGINT) AS n_scored,
                       CASE WHEN COUNT(lp) > 0 THEN
                           ROUND((-CAST(SUM(lp) AS DOUBLE) / 1048576.0)
                                 / COUNT(lp), 4)
                       END AS mean_bits
                FROM G GROUP BY doc_id, isl
            )
            SELECT doc_id, span_start, span_end, span_len, n_scored,
                   mean_bits
            FROM S WHERE span_len >= 2
        """,
        "trigram_logloss": """
            -- stupid backoff: -1386143 = floor(log2(0.4) * 2^20),
            -- computed driver-side so both engines add the SAME integer
            WITH T AS (
                SELECT doc_id, string_split(text, ' ') AS tk
                FROM documents
            ),
            R AS (
                SELECT * FROM T
                WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
            ),
            P3 AS (
                SELECT tk[CAST(i AS INT)] AS t1,
                       tk[CAST(i AS INT) + 1] AS t2,
                       tk[CAST(i AS INT) + 2] AS t3
                FROM R,
                     UNNEST(range(1, GREATEST(len(tk) - 2, 0) + 1)) AS u(i)
                WHERE len(tk) >= 3
            ),
            M3 AS (
                SELECT t1, t2, t3,
                       CAST(FLOOR((LOG2(COUNT(*))
                                   - LOG2(SUM(COUNT(*))
                                          OVER (PARTITION BY t1, t2)))
                                  * 1048576.0) AS BIGINT) AS lp3
                FROM P3 GROUP BY t1, t2, t3
            ),
            P2 AS (
                SELECT tk[CAST(i AS INT)] AS t1,
                       tk[CAST(i AS INT) + 1] AS t2
                FROM R,
                     UNNEST(range(1, GREATEST(len(tk) - 1, 0) + 1)) AS u(i)
                WHERE len(tk) >= 2
            ),
            M2 AS (
                SELECT t1, t2,
                       CAST(FLOOR((LOG2(COUNT(*))
                                   - LOG2(SUM(COUNT(*))
                                          OVER (PARTITION BY t1)))
                                  * 1048576.0) AS BIGINT) AS lp2
                FROM P2 GROUP BY t1, t2
            ),
            M1 AS (
                SELECT t,
                       CAST(FLOOR((LOG2(COUNT(*))
                                   - LOG2(SUM(COUNT(*)) OVER ()))
                                  * 1048576.0) AS BIGINT) AS lp1
                FROM (SELECT UNNEST(tk) AS t FROM R) GROUP BY t
            ),
            D3 AS (
                SELECT doc_id,
                       tk[CAST(i AS INT)] AS a1,
                       tk[CAST(i AS INT) + 1] AS a2,
                       tk[CAST(i AS INT) + 2] AS a3
                FROM T,
                     UNNEST(range(1, GREATEST(len(tk) - 2, 0) + 1)) AS u(i)
                WHERE len(tk) >= 3
            ),
            SC AS (
                SELECT d.doc_id,
                       CASE WHEN m3.lp3 IS NOT NULL THEN m3.lp3
                            WHEN m2.lp2 IS NOT NULL
                                THEN m2.lp2 + (-1386143)
                            WHEN m1.lp1 IS NOT NULL
                                THEN m1.lp1 + 2 * (-1386143)
                       END AS sc,
                       CASE WHEN m3.lp3 IS NOT NULL THEN 3
                            WHEN m2.lp2 IS NOT NULL THEN 2
                            WHEN m1.lp1 IS NOT NULL THEN 1
                            ELSE 0
                       END AS lvl
                FROM D3 d
                LEFT JOIN M3 m3
                       ON d.a1 = m3.t1 AND d.a2 = m3.t2 AND d.a3 = m3.t3
                LEFT JOIN M2 m2 ON d.a2 = m2.t1 AND d.a3 = m2.t2
                LEFT JOIN M1 m1 ON d.a3 = m1.t
            ),
            S AS (
                SELECT doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_tri,
                       CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END)
                            AS BIGINT) AS nb2,
                       CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS nb1,
                       CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS noov,
                       CAST(SUM(CASE WHEN sc IS NOT NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS k,
                       CAST(SUM(sc) AS BIGINT) AS s
                FROM SC GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(s.n_tri, 0) AS BIGINT) AS n_trigrams,
                   CAST(COALESCE(s.nb2, 0) AS BIGINT) AS n_backoff_bigram,
                   CAST(COALESCE(s.nb1, 0) AS BIGINT) AS n_backoff_unigram,
                   CAST(COALESCE(s.noov, 0) AS BIGINT) AS n_oov,
                   CASE WHEN s.k > 0
                        THEN ROUND((-(CAST(s.s AS DOUBLE)) / 1048576.0)
                                   / s.k, 4)
                   END AS bits_per_trigram
            FROM documents d LEFT JOIN S s USING (doc_id)
        """,
        "split_leakage": """
            WITH N AS (
                SELECT doc_id,
                       trim(regexp_replace(
                           regexp_replace(
                               lower(text),
                               '[^\\p{L}\\p{N} \\t\\n\\r\\f]', '', 'g'),
                           '[ \\t\\n\\r\\f]+', ' ', 'g')) AS norm0
                FROM documents
            ),
            P AS (SELECT doc_id, substr(norm0, 1, 80) AS norm FROM N),
            U AS (
                SELECT doc_id, norm,
                       CAST(CONCAT('0x',
                           substr(md5(doc_id || '#split#0'), 1, 4))
                           AS INT) / 65536.0 AS u
                FROM P
            ),
            A AS (
                SELECT doc_id, md5(norm) AS content_hash,
                       CASE WHEN u < 0.75 THEN 'train'
                            WHEN u < 0.875 THEN 'val'
                            ELSE 'test' END AS split
                FROM U
            )
            SELECT content_hash,
                   COUNT(*) AS n_docs,
                   CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
                   list_sort(list(DISTINCT split)) AS splits,
                   list_sort(list(doc_id)) AS doc_ids
            FROM A GROUP BY 1
            HAVING COUNT(DISTINCT split) > 1
        """,
        "prefix_boilerplate": """
            WITH T AS (
                SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents
            ),
            P AS (
                SELECT doc_id,
                       array_to_string(list_slice(toks, 1, 6), ' ')
                           AS prefix
                FROM T WHERE len(toks) >= 6
            )
            SELECT prefix,
                   COUNT(*) AS n_docs,
                   list_sort(list(doc_id)) AS doc_ids
            FROM P GROUP BY 1 HAVING COUNT(*) >= 2
        """,
        "source_cross_entropy": """
            WITH E AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       UNNEST(string_split(text, ' ')) AS token
                FROM documents
            ),
            C AS (
                SELECT grp, token, CAST(COUNT(*) AS BIGINT) AS c
                FROM E WHERE token IS NOT NULL GROUP BY 1, 2
            ),
            T AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n FROM C GROUP BY 1),
            V AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM C),
            LM AS (
                SELECT c.grp AS ref, c.token,
                       CAST(FLOOR((LOG2(CAST(c.c AS DOUBLE) + 1.0)
                                   - LOG2(CAST(t.n AS DOUBLE)
                                          + 1.0 * CAST(v.v AS DOUBLE)))
                                  * 1048576.0) AS BIGINT) AS lq
                FROM C c JOIN T t USING (grp) CROSS JOIN V v
            ),
            AB AS (
                SELECT t.grp AS ref,
                       CAST(FLOOR((LOG2(1.0)
                                   - LOG2(CAST(t.n AS DOUBLE)
                                          + 1.0 * CAST(v.v AS DOUBLE)))
                                  * 1048576.0) AS BIGINT) AS lq_abs
                FROM T t CROSS JOIN V v
            ),
            P AS (
                SELECT a.grp AS src, l.ref,
                       CAST(SUM(a.c * l.lq) AS BIGINT) AS ss,
                       CAST(SUM(a.c) AS BIGINT) AS sm
                FROM C a JOIN LM l USING (token) GROUP BY 1, 2
            ),
            G AS (
                SELECT t.grp AS src, t.n AS n_src, ab.ref, ab.lq_abs
                FROM T t CROSS JOIN AB ab
            )
            SELECT g.src, g.ref,
                   ROUND(-CAST(COALESCE(p.ss, 0)
                               + (g.n_src - COALESCE(p.sm, 0)) * g.lq_abs
                               AS DOUBLE)
                         / (CAST(g.n_src AS DOUBLE) * 1048576.0), 4)
                       AS h_bits
            FROM G g LEFT JOIN P p ON p.src = g.src AND p.ref = g.ref
        """,
        "cusum_volume": """
            WITH D AS (
                SELECT event_type,
                       CAST(FLOOR(epoch_ms(ts) / 86400000) AS BIGINT)
                           AS day,
                       CAST(COUNT(*) AS BIGINT) AS n_rows
                FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
            ),
            M AS (
                SELECT event_type,
                       COUNT(*) AS n,
                       CAST(SUM(n_rows) AS BIGINT) AS sx,
                       CAST(SUM(n_rows * n_rows) AS BIGINT) AS sxx
                FROM D GROUP BY 1
            ),
            MS AS (
                SELECT event_type,
                       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                       CASE WHEN n >= 2
                                 AND (CAST(n AS DOUBLE)
                                      * CAST(sxx AS DOUBLE)
                                      - CAST(sx AS DOUBLE)
                                        * CAST(sx AS DOUBLE))
                                    / (CAST(n AS DOUBLE)
                                       * (CAST(n AS DOUBLE) - 1.0)) > 0
                            THEN SQRT((CAST(n AS DOUBLE)
                                       * CAST(sxx AS DOUBLE)
                                       - CAST(sx AS DOUBLE)
                                         * CAST(sx AS DOUBLE))
                                      / (CAST(n AS DOUBLE)
                                         * (CAST(n AS DOUBLE) - 1.0)))
                       END AS sig
                FROM M
            ),
            S AS (
                SELECT d.event_type, d.day, d.n_rows, ms.sig,
                       SUM((CAST(d.n_rows AS DOUBLE) - ms.mu)
                           - 0.5 * ms.sig) OVER (
                           PARTITION BY d.event_type ORDER BY d.day
                           ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS sp,
                       SUM((CAST(d.n_rows AS DOUBLE) - ms.mu)
                           + 0.5 * ms.sig) OVER (
                           PARTITION BY d.event_type ORDER BY d.day
                           ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS sn
                FROM D d JOIN MS ms USING (event_type)
            ),
            C AS (
                SELECT event_type, day, n_rows, sig,
                       sp - LEAST(MIN(sp) OVER (
                           PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW), 0.0) AS cp,
                       GREATEST(MAX(sn) OVER (
                           PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW), 0.0) - sn AS cn
                FROM S
            )
            SELECT event_type, day, n_rows,
                   ROUND(cp, 4) AS cusum_pos,
                   ROUND(cn, 4) AS cusum_neg,
                   CASE WHEN sig IS NOT NULL
                        THEN cp > 4.0 * sig OR cn > 4.0 * sig
                        ELSE FALSE END AS is_change
            FROM C
        """,
        "inspection_sample": """
            WITH U AS (
                SELECT source, doc_id, n_chars,
                       CAST(CONCAT('0x',
                           substr(md5(doc_id || '#inspect#0'), 1, 4))
                           AS INT) / 65536.0 AS u
                FROM documents
            ),
            R AS (
                SELECT source, doc_id, n_chars,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY source
                           ORDER BY u ASC, doc_id ASC
                       ) AS INT) AS rank
                FROM U
            )
            SELECT source, doc_id, n_chars, rank
            FROM R WHERE rank <= 5
        """,
        "dedup_impact": """
            WITH N AS (
                SELECT doc_id, source, n_chars,
                       trim(regexp_replace(
                           regexp_replace(
                               lower(text),
                               '[^\\p{L}\\p{N} \\t\\n\\r\\f]', '', 'g'),
                           '[ \\t\\n\\r\\f]+', ' ', 'g')) AS norm0
                FROM documents
            ),
            A AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       doc_id, n_chars,
                       md5(substr(norm0, 1, 80)) AS h
                FROM N
            ),
            M AS (
                SELECT grp, n_chars,
                       CASE WHEN h IS NOT NULL
                                 AND doc_id <> MIN(doc_id)
                                     OVER (PARTITION BY h)
                            THEN 1 ELSE 0 END AS red
                FROM A
            )
            SELECT grp AS source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(red) AS BIGINT) AS n_redundant,
                   ROUND(CAST(SUM(red) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE), 6) AS redundancy_rate,
                   CAST(SUM(n_chars) AS BIGINT) AS w_total,
                   CAST(SUM(CASE WHEN red = 1 THEN n_chars
                                 ELSE 0 END) AS BIGINT) AS w_redundant,
                   ROUND(CASE WHEN SUM(n_chars) > 0 THEN
                       CAST(SUM(CASE WHEN red = 1 THEN n_chars
                                     ELSE 0 END) AS DOUBLE)
                       / CAST(SUM(n_chars) AS DOUBLE) END, 6) AS w_rate
            FROM M GROUP BY 1
        """,
        "mad_outliers": """
            WITH MED AS (
                SELECT source AS grp,
                       quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
                FROM documents WHERE n_chars IS NOT NULL
                GROUP BY source
            ),
            WM AS (
                SELECT d.doc_id, d.source,
                       CAST(d.n_chars AS DOUBLE) AS x, m.med
                FROM documents d
                JOIN MED m ON d.source IS NOT DISTINCT FROM m.grp
            ),
            MADT AS (
                SELECT source AS grp,
                       quantile_cont(ABS(x - med), 0.5) AS mad
                FROM WM WHERE x IS NOT NULL
                GROUP BY source
            )
            SELECT w.doc_id, w.source, w.x AS value,
                   ROUND(w.med, 6) AS med,
                   ROUND(a.mad, 6) AS mad,
                   ROUND((w.x - w.med) / (1.4826 * a.mad), 4) AS robust_z
            FROM WM w JOIN MADT a ON w.source IS NOT DISTINCT FROM a.grp
            WHERE w.x IS NOT NULL AND a.mad > 0
              AND ABS((w.x - w.med) / (1.4826 * a.mad)) > 2.0
        """,
        "accepted_keys": """
            WITH V AS (
                SELECT CASE WHEN n_chars IS NULL THEN 'invalid'
                            ELSE 'deviation' END AS kind,
                       CAST(source AS VARCHAR) AS group_key,
                       CAST(doc_id AS VARCHAR) AS doc_id,
                       CAST(n_chars AS DOUBLE) AS value_d,
                       CASE WHEN n_chars < 150 THEN 150.0
                            ELSE 400.0 END AS exp,
                       CASE WHEN n_chars IS NULL THEN NULL
                            ELSE CAST(n_chars AS DOUBLE)
                                 - (CASE WHEN n_chars < 150 THEN 150.0
                                         ELSE 400.0 END)
                       END AS dev
                FROM documents
                WHERE NOT COALESCE(n_chars >= 150 AND n_chars <= 400,
                                   FALSE)
            )
            SELECT kind, group_key, doc_id, value_d AS value,
                   CAST(exp AS VARCHAR) AS expected,
                   ROUND(dev, 4) AS deviation
            FROM V
            WHERE NOT COALESCE(group_key IN ('src0', 'src2'), FALSE)
        """,
        "accepted_args": """
            WITH V AS (
                SELECT CASE WHEN n_chars IS NULL THEN 'invalid'
                            ELSE 'deviation' END AS kind,
                       CAST(doc_id AS VARCHAR) AS doc_id,
                       CAST(n_chars AS DOUBLE) AS value_d,
                       CASE WHEN n_chars < 150 THEN 150.0
                            ELSE 400.0 END AS exp,
                       CASE WHEN n_chars IS NULL THEN NULL
                            ELSE CAST(n_chars AS DOUBLE)
                                 - (CASE WHEN n_chars < 150 THEN 150.0
                                         ELSE 400.0 END)
                       END AS dev
                FROM documents
                WHERE NOT COALESCE(n_chars >= 150 AND n_chars <= 400,
                                   FALSE)
            )
            SELECT kind, doc_id, value_d AS value,
                   CAST(exp AS VARCHAR) AS expected,
                   ROUND(dev, 4) AS deviation
            FROM V
            WHERE NOT COALESCE(
                kind = 'deviation' AND dev IS NOT NULL
                AND NOT isnan(dev) AND ABS(dev) <= 25.0, FALSE)
        """,
        "quality_bands_approx": """
            WITH B AS (
                SELECT source AS grp,
                       quantile_disc(CAST(n_chars AS DOUBLE),
                                     [0.1, 0.2, 0.3, 0.4, 0.5,
                                      0.6, 0.7, 0.8, 0.9]) AS bounds
                FROM documents
                WHERE n_chars IS NOT NULL
                GROUP BY source
            )
            SELECT d.doc_id, d.source, d.n_chars,
                   CAST(1 + COALESCE(LEN(list_filter(
                       b.bounds, x -> CAST(d.n_chars AS DOUBLE) > x
                   )), 0) AS INT) AS band
            FROM documents d
            LEFT JOIN B b ON d.source IS NOT DISTINCT FROM b.grp
        """,
        "accepted_tolerance": """
            WITH V AS (
                SELECT 'deviation' AS kind,
                       CAST(c_custkey AS VARCHAR) AS doc_id,
                       CAST(c_acctbal AS DOUBLE) AS value_d,
                       CAST(c_acctbal AS DOUBLE) - 0.0 AS dev
                FROM customer
                WHERE NOT COALESCE(c_acctbal >= 0, FALSE)
            )
            SELECT kind, doc_id, value_d AS value,
                   ROUND(dev, 4) AS deviation
            FROM V
            WHERE NOT COALESCE(
                kind = 'deviation' AND dev IS NOT NULL
                AND NOT isnan(dev) AND dev BETWEEN -500.0 AND 0.0,
                FALSE)
        """,
        "token_burstiness": """
            -- df/cf/sumsq exact BIGINTs; the ratios are a fixed IEEE op
            -- sequence; LIMIT selection is deterministic (rounded
            -- burstiness DESC, token ASC — token unique per row)
            WITH PD AS (
                SELECT word AS token, doc, CAST(COUNT(*) AS BIGINT) AS c
                FROM (
                    SELECT doc_id AS doc,
                           UNNEST(string_split(text, ' ')) AS word
                    FROM documents
                )
                WHERE word IS NOT NULL
                GROUP BY 1, 2
            ),
            PT AS (
                SELECT token, CAST(COUNT(*) AS BIGINT) AS "df",
                       CAST(SUM(c) AS BIGINT) AS cf,
                       CAST(SUM(c * c) AS BIGINT) AS sumsq
                FROM PD GROUP BY 1
            )
            SELECT token, "df", cf, sumsq,
                   ROUND(CAST(cf AS DOUBLE) / CAST("df" AS DOUBLE), 6)
                       AS burstiness,
                   ROUND((CAST(sumsq AS DOUBLE) / CAST("df" AS DOUBLE)
                          - (CAST(cf AS DOUBLE) / CAST("df" AS DOUBLE))
                            * (CAST(cf AS DOUBLE) / CAST("df" AS DOUBLE)))
                         / (CAST(cf AS DOUBLE) / CAST("df" AS DOUBLE)), 6)
                       AS vmr
            FROM PT WHERE "df" >= 20
            ORDER BY burstiness DESC, token ASC
            LIMIT 50
        """,
        "lexical_types": _lexical_types_oracle_sql(),
        "split_balance": """
            WITH U AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       CAST(CONCAT('0x',
                           substr(md5(doc_id || '#split#0'), 1, 4))
                           AS INT) / 65536.0 AS u
                FROM documents
            ),
            A AS (
                SELECT grp,
                       CASE WHEN u < 0.75 THEN 'train'
                            WHEN u < 0.875 THEN 'val'
                            ELSE 'test' END AS split
                FROM U
            ),
            P AS (
                SELECT split, grp, CAST(COUNT(*) AS BIGINT) AS n_split
                FROM A GROUP BY 1, 2
            ),
            T AS (
                SELECT grp, CAST(SUM(n_split) AS BIGINT) AS n_total
                FROM P GROUP BY 1
            ),
            E AS (
                SELECT P.split, P.grp, n_split, n_total,
                       CASE WHEN P.split = 'train' THEN 0.75
                            WHEN P.split = 'val' THEN 0.125
                            ELSE 0.125 END AS p
                FROM P JOIN T ON P.grp = T.grp
            )
            SELECT split, grp AS "group", n_split, n_total,
                   ROUND(p, 6) AS expected_share,
                   ROUND(CAST(n_split AS DOUBLE)
                         / CAST(n_total AS DOUBLE), 6) AS observed_share,
                   ROUND((CAST(n_split AS DOUBLE)
                          - CAST(n_total AS DOUBLE) * p)
                         / SQRT(CAST(n_total AS DOUBLE) * p * (1.0 - p)),
                         4) AS z
            FROM E
        """,
        "epoch_mixture": """
            -- mirrors mixture_plan (rate rounded 6 BEFORE the epoch
            -- arithmetic) then the epoch decomposition on the rounded
            -- rate — identical op order to the operator
            WITH A AS (
                SELECT COALESCE(source, '__null__') AS source,
                       CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT)
                           AS available_tokens
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars >= 0
                GROUP BY 1
            ),
            T(source, target_tokens) AS (
                VALUES ('src0', 40000), ('src1', 10000),
                       ('src2', 3000), ('src3', 0)
            ),
            J AS (
                SELECT A.source, n_docs, available_tokens,
                       CAST(COALESCE(T.target_tokens, 0) AS BIGINT)
                           AS target_tokens,
                       CASE WHEN available_tokens > 0 THEN
                           ROUND(COALESCE(
                               CAST(T.target_tokens AS DOUBLE)
                               / CAST(available_tokens AS DOUBLE),
                               0.0), 6)
                       ELSE 0.0 END AS rate
                FROM A LEFT JOIN T ON A.source = T.source
            )
            SELECT source, n_docs, available_tokens, target_tokens, rate,
                   rate > 3.0 AS capped,
                   ROUND(LEAST(rate, 3.0), 6) AS planned_rate,
                   CAST(FLOOR(LEAST(rate, 3.0)) AS BIGINT) AS epochs_full,
                   ROUND(LEAST(rate, 3.0) - FLOOR(LEAST(rate, 3.0)), 6)
                       AS frac_rate,
                   ROUND(LEAST(rate, 3.0)
                         * CAST(available_tokens AS DOUBLE), 2)
                       AS planned_tokens,
                   ROUND(LEAST(LEAST(rate, 3.0), 1.0)
                         * CAST(available_tokens AS DOUBLE), 2)
                       AS unique_tokens,
                   ROUND(LEAST(rate, 3.0)
                         * CAST(available_tokens AS DOUBLE)
                         - LEAST(LEAST(rate, 3.0), 1.0)
                           * CAST(available_tokens AS DOUBLE), 2)
                       AS repeated_tokens,
                   ROUND(GREATEST(
                       CAST(target_tokens AS DOUBLE)
                       - LEAST(rate, 3.0)
                         * CAST(available_tokens AS DOUBLE),
                       0.0), 2) AS shortfall_tokens
            FROM J
        """,
        "dup_label_conflict": """
            WITH D AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 25 = 0
                            THEN 'DUPLICATE BOILERPLATE BLOCK'
                            ELSE text END AS text
                FROM documents
            ),
            J AS (
                SELECT md5(D.text) AS content_hash, e.label AS lab
                FROM D LEFT JOIN embeddings e ON D.doc_id = e.vec_id
            ),
            G AS (
                SELECT content_hash,
                       CAST(COUNT(*) AS BIGINT) AS n_members,
                       CAST(COUNT(lab) AS BIGINT) AS n_labeled,
                       CAST(COUNT(DISTINCT lab) AS BIGINT) AS n_labels,
                       MIN(lab) AS label_min,
                       MAX(lab) AS label_max
                FROM J GROUP BY 1
            )
            SELECT * FROM G WHERE n_members > 1 AND n_labels > 1
        """,
        "lang_agreement": """
            WITH {cte},
            B AS (
                SELECT COALESCE(lang, chr(0) || 'null' || chr(0)) AS a,
                       COALESCE(predicted, chr(0) || 'null' || chr(0)) AS b
                FROM PRED
            ),
            T AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END)
                            AS BIGINT) AS agree
                FROM B
            ),
            NA AS (SELECT a AS cat, CAST(COUNT(*) AS BIGINT) AS na
                   FROM B GROUP BY 1),
            NB AS (SELECT b AS cat, CAST(COUNT(*) AS BIGINT) AS nb
                   FROM B GROUP BY 1),
            M AS (
                SELECT CAST(SUM(COALESCE(na, 0) * COALESCE(nb, 0))
                            AS DOUBLE) AS s
                FROM NA FULL OUTER JOIN NB ON NA.cat = NB.cat
            )
            SELECT n,
                   ROUND(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6)
                       AS po,
                   ROUND(s / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
                       AS pe,
                   ROUND(CASE WHEN s / (CAST(n AS DOUBLE)
                                        * CAST(n AS DOUBLE)) < 1.0
                         THEN (CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
                               - s / (CAST(n AS DOUBLE)
                                      * CAST(n AS DOUBLE)))
                              / (1.0 - s / (CAST(n AS DOUBLE)
                                            * CAST(n AS DOUBLE)))
                         END, 6) AS kappa
            FROM T, M
        """.format(cte=_LANGID_SQL),
        "chao1_richness": """
            WITH W AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       UNNEST(string_split(text, ' ')) AS token
                FROM documents
            ),
            FR AS (
                SELECT grp, token, CAST(COUNT(*) AS BIGINT) AS f
                FROM W WHERE token IS NOT NULL GROUP BY 1, 2
            ),
            A AS (
                SELECT grp, CAST(COUNT(*) AS BIGINT) AS vocab,
                       CAST(SUM(f) AS BIGINT) AS total_tokens,
                       CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS f1,
                       CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END)
                            AS BIGINT) AS f2
                FROM FR GROUP BY 1
            )
            SELECT grp AS "group", vocab, total_tokens, f1, f2,
                   ROUND(CAST(vocab AS DOUBLE)
                         + CAST(f1 * (f1 - 1) AS DOUBLE)
                           / (2.0 * CAST(f2 + 1 AS DOUBLE)), 2) AS chao1,
                   ROUND(CASE WHEN total_tokens > 0 THEN
                             1.0 - CAST(f1 AS DOUBLE)
                                   / CAST(total_tokens AS DOUBLE)
                         END, 6) AS coverage
            FROM A
        """,
        "ess_audit": """
            -- fixed-point floor(w * 2^20): exact HUGEINT sums mirror
            -- Spark's DECIMAL(38,0); ESS is one double op sequence
            WITH B AS (
                SELECT COALESCE(source, '__null__') AS grp,
                       CASE WHEN n_chars >= 0 THEN
                           CAST(FLOOR(CAST(n_chars AS DOUBLE)
                                      * 1048576.0) AS HUGEINT)
                       END AS wi,
                       CASE WHEN n_chars < 0 THEN 1 ELSE 0 END AS neg
                FROM documents WHERE n_chars IS NOT NULL
            ),
            G AS (
                SELECT grp, CAST(COUNT(wi) AS BIGINT) AS n,
                       CAST(SUM(neg) AS BIGINT) AS n_negative,
                       CAST(SUM(wi) AS DOUBLE) AS sw,
                       CAST(SUM(wi * wi) AS DOUBLE) AS sw2
                FROM B GROUP BY 1
            )
            SELECT grp AS "group", n, n_negative,
                   ROUND(CASE WHEN sw2 > 0 THEN sw * sw / sw2 END, 2)
                       AS ess,
                   ROUND(CASE WHEN sw2 > 0 AND n > 0 THEN
                             (sw * sw / sw2) / CAST(n AS DOUBLE)
                         END, 6) AS ess_ratio
            FROM G
        """,
        "partition_fingerprints": """
            SELECT 'source=' || COALESCE(source, '__null__')
                       AS partition_key,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(CAST(SUM(CAST(CONCAT('0x', substr(md5(
                       COALESCE(CAST(doc_id AS VARCHAR),
                                chr(0) || 'null' || chr(0))
                       || chr(31) ||
                       COALESCE(text, chr(0) || 'null' || chr(0))
                       || chr(31) ||
                       COALESCE(lang, chr(0) || 'null' || chr(0))
                       || chr(31) ||
                       COALESCE(CAST(n_chars AS VARCHAR),
                                chr(0) || 'null' || chr(0))
                   ), 1, 15)) AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR)
                       AS content_sum
            FROM documents
            GROUP BY 1
        """,
        "fingerprint_diff": """
            WITH F0 AS (
                SELECT 'source=' || COALESCE(source, '__null__') AS pk,
                       CAST(COUNT(*) AS BIGINT) AS n_rows,
                       CAST(SUM(CAST(CONCAT('0x', substr(md5(
                           COALESCE(CAST(doc_id AS VARCHAR),
                                    chr(0) || 'null' || chr(0))
                           || chr(31) ||
                           COALESCE(text, chr(0) || 'null' || chr(0))
                           || chr(31) ||
                           COALESCE(lang, chr(0) || 'null' || chr(0))
                           || chr(31) ||
                           COALESCE(CAST(n_chars AS VARCHAR),
                                    chr(0) || 'null' || chr(0))
                       ), 1, 15)) AS BIGINT)) AS DECIMAL(38,0)) AS cs
                FROM documents WHERE doc_id % 3 <> 0
                GROUP BY 1
            ),
            F1 AS (
                SELECT 'source=' || COALESCE(source, '__null__') AS pk,
                       CAST(COUNT(*) AS BIGINT) AS n_rows,
                       CAST(SUM(CAST(CONCAT('0x', substr(md5(
                           COALESCE(CAST(doc_id AS VARCHAR),
                                    chr(0) || 'null' || chr(0))
                           || chr(31) ||
                           COALESCE(text, chr(0) || 'null' || chr(0))
                           || chr(31) ||
                           COALESCE(lang, chr(0) || 'null' || chr(0))
                           || chr(31) ||
                           COALESCE(CAST(n_chars AS VARCHAR),
                                    chr(0) || 'null' || chr(0))
                       ), 1, 15)) AS BIGINT)) AS DECIMAL(38,0)) AS cs
                FROM documents
                GROUP BY 1
            )
            SELECT COALESCE(F0.pk, F1.pk) AS partition_key,
                   F0.n_rows AS n_rows_old,
                   F1.n_rows AS n_rows_new,
                   CASE WHEN F0.cs IS NULL THEN 'added'
                        WHEN F1.cs IS NULL THEN 'removed'
                        WHEN F0.cs = F1.cs
                             AND F0.n_rows = F1.n_rows THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM F0 FULL OUTER JOIN F1 ON F0.pk = F1.pk
        """,
        "candidate_keys": """
            WITH E AS (
                SELECT 'event_id' AS key_set, 1 AS arity,
                       COALESCE(CAST(event_id AS VARCHAR),
                                chr(0) || 'null' || chr(0)) AS val
                FROM events
                UNION ALL
                SELECT 'user_id', 1,
                       COALESCE(CAST(user_id AS VARCHAR),
                                chr(0) || 'null' || chr(0))
                FROM events
                UNION ALL
                SELECT 'event_type', 1,
                       COALESCE(event_type, chr(0) || 'null' || chr(0))
                FROM events
                UNION ALL
                SELECT 'event_id+user_id', 2,
                       COALESCE(CAST(event_id AS VARCHAR),
                                chr(0) || 'null' || chr(0))
                       || chr(31) ||
                       COALESCE(CAST(user_id AS VARCHAR),
                                chr(0) || 'null' || chr(0))
                FROM events
                UNION ALL
                SELECT 'event_id+event_type', 2,
                       COALESCE(CAST(event_id AS VARCHAR),
                                chr(0) || 'null' || chr(0))
                       || chr(31) ||
                       COALESCE(event_type, chr(0) || 'null' || chr(0))
                FROM events
                UNION ALL
                SELECT 'user_id+event_type', 2,
                       COALESCE(CAST(user_id AS VARCHAR),
                                chr(0) || 'null' || chr(0))
                       || chr(31) ||
                       COALESCE(event_type, chr(0) || 'null' || chr(0))
                FROM events
            ),
            V AS (
                SELECT key_set, arity, val, CAST(COUNT(*) AS BIGINT) AS n
                FROM E GROUP BY 1, 2, 3
            ),
            S AS (
                SELECT key_set, CAST(arity AS INT) AS arity,
                       CAST(SUM(n) AS BIGINT) AS n_rows,
                       CAST(COUNT(*) AS BIGINT) AS n_distinct
                FROM V GROUP BY 1, 2
            )
            SELECT key_set, arity, n_rows, n_distinct,
                   ROUND(CAST(n_distinct AS DOUBLE)
                         / CAST(n_rows AS DOUBLE), 6) AS uniqueness_ratio,
                   (CAST(n_distinct AS DOUBLE)
                    / CAST(n_rows AS DOUBLE)) >= 1.0 AS is_key
            FROM S
        """,
        "fd_discovery": _fd_discovery_oracle_sql(),
        "consolidate_rare": """
            WITH W AS (
                SELECT UNNEST(string_split(text, ' ')) AS word
                FROM documents
            ),
            K AS (
                SELECT word FROM W WHERE word IS NOT NULL
                GROUP BY 1 HAVING COUNT(*) >= 100
            )
            SELECT CASE WHEN W.word IS NULL THEN NULL
                        WHEN K.word IS NOT NULL THEN W.word
                        ELSE '__other__' END AS word,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM W LEFT JOIN K ON W.word = K.word
            GROUP BY 1
        """,
        # simhash_pairs: xxhash64-derived (not expressible in DuckDB)
        # — rows-only check.
    }
