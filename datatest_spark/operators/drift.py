"""Distribution-drift check (SURVEY A11): per-source n_tok histograms
compared against a baseline by KL divergence / PSI.

The histogram is one ``groupBy(source, bucket)`` aggregation
(``width_bucket`` bucketing — JVM-side, map-side combined); the
(sources × bins) matrix is tiny and the KL/PSI arithmetic runs on the
driver. Baselines are plain rows ``(source, bucket, p)`` (FIXTURES.md §4),
generatable from an uncorrupted reference draw via ``histogram()``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .checks import BaseCheck

_EPS = 1e-9


def histogram(
    df: DataFrame,
    value_col: str = "n_tok",
    group_col: str = "source",
    lo: float = 0.0,
    hi: float = 4096.0,
    nbins: int = 32,
) -> DataFrame:
    """Per-group normalized histogram: (group, bucket, n, p).

    ``width_bucket`` assigns 1..nbins plus 0 / nbins+1 for underflow and
    overflow, so no value is silently dropped.
    """
    v = F.col(value_col).cast("double")
    # null group values coalesce to the engine's '__null__' token (same
    # convention as stats.partition_key_col) — an equi-join on a raw null
    # key would silently drop the whole null-group slice from the
    # histogram, making a corrupted null-source partition undriftable
    bucketed = df.filter(v.isNotNull()).select(
        F.coalesce(F.col(group_col).cast("string"), F.lit("__null__")).alias(
            "group"
        ),
        F.width_bucket(v, F.lit(lo), F.lit(hi), F.lit(nbins)).alias("bucket"),
    )
    counts = bucketed.groupBy("group", "bucket").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("group").agg(F.sum("n").alias("_total"))
    return counts.join(totals, "group").select(
        "group", "bucket", "n", (F.col("n") / F.col("_total")).alias("p")
    )


def kl_divergence(p: dict, q: dict) -> float:
    """KL(p || q) over bucket dicts; epsilon-smoothed for empty buckets."""
    buckets = set(p) | set(q)
    total = 0.0
    for b in buckets:
        pb = max(p.get(b, 0.0), _EPS)
        qb = max(q.get(b, 0.0), _EPS)
        total += pb * math.log(pb / qb)
    return total


def psi(p: dict, q: dict) -> float:
    """Population Stability Index between bucket dicts (symmetric-ish)."""
    buckets = set(p) | set(q)
    total = 0.0
    for b in buckets:
        pb = max(p.get(b, 0.0), _EPS)
        qb = max(q.get(b, 0.0), _EPS)
        total += (pb - qb) * math.log(pb / qb)
    return total


def chi2_stat(counts: dict, q: dict) -> float:
    """Pearson chi-square of observed bucket COUNTS against baseline
    proportions ``q`` (epsilon-smoothed like kl/psi, so mass in a bucket
    the baseline never saw reads as a large-but-finite term rather than
    an infinity). Unlike KL/PSI this scales with n, so its threshold can
    be a chi-square critical value for a target p-value."""
    n = sum(counts.values())
    if n <= 0:
        return 0.0
    buckets = set(counts) | set(q)
    total = 0.0
    for b in buckets:
        e = max(q.get(b, 0.0), _EPS) * n
        d = counts.get(b, 0) - e
        total += d * d / e
    return total


class DriftCheck(BaseCheck):
    """Per-source histogram drift vs a baseline (north_star drift check).

    Baseline: DataFrame or rows with (group, bucket, p). A group whose
    KL/PSI exceeds the threshold yields one Deviation violation carrying
    the metric value; groups present in data but absent from the baseline
    are Extra, and vice versa Missing.
    """

    check_id = "distribution_drift"

    _METRICS = ("psi", "kl", "chi2")

    def __init__(
        self,
        baseline,
        value_col="n_tok",
        group_col="source",
        lo=0.0,
        hi=4096.0,
        nbins=32,
        metric="psi",
        threshold=None,
    ):
        # a typo'd metric must not silently fall through to KL with a
        # threshold calibrated for something else — that reads as
        # "no drift anywhere", the worst failure mode for a monitor
        if metric not in self._METRICS:
            raise ValueError(
                "DriftCheck metric must be one of {0}, got {1!r}".format(
                    self._METRICS, metric
                )
            )
        if threshold is None:
            if metric == "chi2":
                # chi2 scales with n (null expectation ~ dof): the PSI
                # convention 0.2 would flag every group on every run.
                # Require the caller's critical value explicitly.
                raise ValueError(
                    "DriftCheck(metric='chi2') needs an explicit "
                    "threshold (a chi-square critical value for your "
                    "bin count, e.g. 27.6 for ~17 dof at p=0.05)"
                )
            threshold = 0.2  # the published PSI alert convention
        self.baseline = baseline
        self.value_col = value_col
        self.group_col = group_col
        self.lo, self.hi, self.nbins = lo, hi, nbins
        self.metric = metric
        self.threshold = threshold

    def _baseline_map(self):
        if isinstance(self.baseline, DataFrame):
            rows = self.baseline.collect()
            it = ((r["group"], r["bucket"], r["p"]) for r in rows)
        else:
            it = ((r[0], r[1], r[2]) for r in self.baseline)
        out = {}
        for g, b, p in it:
            # normalize both keys into histogram()'s key space — groups
            # are strings (nulls -> '__null__'), buckets are ints. A
            # baseline loaded from a text format (str groups AND str
            # buckets) would otherwise never align with current data and
            # every group would falsely read as maximally drifted.
            g = "__null__" if g is None else str(g)
            if b is None:
                # histogram() never emits null buckets (null values are
                # filtered before width_bucket) — a null here is a
                # malformed baseline; silently skipping would drop its
                # mass and misreport drift for the whole group
                raise ValueError(
                    "drift baseline has a null bucket for group "
                    "{0!r} — rebuild the baseline with histogram()".format(g)
                )
            # int(float(...)) also accepts "3.0"-style buckets from a
            # pandas/CSV round trip that floated the column
            out.setdefault(g, {})[int(float(b))] = float(p)
        return out

    def compute(self, df: DataFrame) -> tuple:
        """Returns ``(metrics, extra_groups, missing_groups)``:
        ``metrics`` = {group: metric_value} for groups present in both
        current data and baseline; ``extra_groups`` / ``missing_groups``
        are the one-sided group sets (each a violation in
        ``drift_violations``)."""
        hist = histogram(df, self.value_col, self.group_col, self.lo, self.hi, self.nbins)
        cur, cur_n = {}, {}
        for r in hist.collect():
            cur.setdefault(r["group"], {})[r["bucket"]] = float(r["p"])
            cur_n.setdefault(r["group"], {})[r["bucket"]] = int(r["n"])
        base = self._baseline_map()
        if self.metric == "chi2":
            # chi2 consumes observed COUNTS (it scales with n, so the
            # threshold can be a chi-square critical value); kl/psi
            # consume proportions
            metrics = {
                g: chi2_stat(cur_n[g], base[g]) for g in cur if g in base
            }
        else:
            fn = psi if self.metric == "psi" else kl_divergence
            metrics = {
                g: fn(cur[g], base[g]) for g in cur if g in base
            }
        return (
            metrics,
            set(cur) - set(base),
            set(base) - set(cur),
        )

    def drift_violations(self, df) -> list:
        metrics, extra_groups, missing_groups = self.compute(df)
        out = []
        for g, m in sorted(metrics.items()):
            if m > self.threshold:
                out.append(
                    dict(
                        check_id=self.check_id,
                        kind="deviation",
                        partition_key="{0}={1}".format(self.group_col, g),
                        group_key=str(g),
                        value=str(m),
                        expected=str(self.threshold),
                        deviation=m - self.threshold,
                        detail={"metric": self.metric},
                    )
                )
        for g in sorted(extra_groups):
            out.append(
                dict(
                    check_id=self.check_id, kind="extra",
                    partition_key="{0}={1}".format(self.group_col, g),
                    group_key=str(g), value=str(g),
                    detail={"reason": "group absent from baseline"},
                )
            )
        for g in sorted(missing_groups):
            out.append(
                dict(
                    check_id=self.check_id, kind="missing",
                    partition_key="{0}={1}".format(self.group_col, g),
                    group_key=str(g), value=str(g),
                    detail={"reason": "baseline group absent from data"},
                )
            )
        return out


def _dense_counts(df, value_col, group_col, lo, hi, nbins):
    """Dense per-group bucket counts: every (group, bucket) cell of the
    |groups| x (nbins+2) grid materialized with zero-filled counts.
    Shared by the binned KS and chi-square drift statistics — both get
    bucket arithmetic wrong on a sparse frame (a missing bucket must
    carry the previous CDF value / contribute its expected count)."""
    counts = histogram(df, value_col, group_col, lo, hi, nbins).select(
        "group", "bucket", "n"
    )
    spark = df.sparkSession
    grid = (
        counts.select("group").distinct()
        .crossJoin(
            spark.range(0, nbins + 2).select(
                F.col("id").cast("int").alias("bucket")
            )
        )
    )
    return grid.join(counts, ["group", "bucket"], "left").select(
        "group", "bucket", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )


def _absent_baseline_guard(col, baseline_group, fn_name, cast_type):
    """Execution-time guard for the baseline LEFT join: if the baseline
    group is absent (misspelled, or all-null values), every joined
    baseline column is null — an inner join would silently return ZERO
    rows and a drift monitor would read 'no drift anywhere'. raise_error
    fires inside the one existing action; checking eagerly would cost a
    second full scan."""
    return F.when(
        col.isNull(),
        F.raise_error(
            F.lit(
                "%s: baseline_group %r has no bucketed rows (misspelled "
                "group, or all values null?)" % (fn_name, baseline_group)
            )
        ).cast(cast_type),
    ).otherwise(col)


def ks_from_histogram(
    df: DataFrame,
    value_col: str,
    group_col: str,
    baseline_group: str,
    lo: float,
    hi: float,
    nbins: int = 10,
) -> DataFrame:
    """Binned two-sample Kolmogorov–Smirnov statistic per group vs a
    baseline group: max over bin boundaries of |CDF_g − CDF_base|.

    The exact KS needs a global sort (one-partition window — not a
    10^12-row shape); the binned variant is the scale-safe companion to
    KL/PSI above: one (group, bucket) aggregation, then all arithmetic on
    a DENSE grid of at most |groups| x (nbins+2) rows (zero-count
    buckets materialized — a missing bucket's CDF must carry the
    previous value, which a sparse join would get wrong). Cumulative
    sums run on integer counts with ONE division at the end, so the
    cross-engine oracle reproduces the doubles bit-for-bit.

    Returns (group, ks) for every group including the baseline (its ks
    is 0.0 by construction — a cheap self-test).
    """
    dense = _dense_counts(df, value_col, group_col, lo, hi, nbins)
    w = Window.partitionBy("group").orderBy("bucket")
    cum = dense.withColumn("cum_n", F.sum("n").over(w))
    totals = cum.groupBy("group").agg(F.max("cum_n").alias("_tot"))
    cdf = cum.join(totals, "group").select(
        "group", "bucket", (F.col("cum_n") / F.col("_tot")).alias("cdf")
    )
    base = cdf.where(F.col("group") == baseline_group).select(
        "bucket", F.col("cdf").alias("_base_cdf")
    )
    guarded = _absent_baseline_guard(
        F.col("_base_cdf"), baseline_group, "ks_from_histogram", "double"
    )
    return (
        cdf.join(F.broadcast(base), "bucket", "left")
        .groupBy("group")
        .agg(
            F.round(F.max(F.abs(F.col("cdf") - guarded)), 4).alias("ks")
        )
    )


def chi2_from_histogram(
    df: DataFrame,
    value_col: str,
    group_col: str,
    baseline_group: str,
    lo: float,
    hi: float,
    nbins: int = 10,
) -> DataFrame:
    """Pearson chi-square statistic per group vs a baseline group's
    histogram — the third drift lens next to KL/PSI (mass-weighted) and
    KS (worst single boundary): chi-square is the one with a known null
    distribution, so a monitor can turn it into a p-value threshold.

    Expected counts scale the baseline to the group's total:
    ``e_b = base_n_b * tot_g / tot_base``; the statistic sums
    ``(o_b - e_b)^2 / e_b`` over buckets where the baseline has mass.
    Buckets the baseline never saw but the group has (``novel_buckets``)
    are reported separately instead of contributing an infinite term.

    Cross-engine determinism: every term is built from integer counts
    with only IEEE multiply/divide (no transcendentals), and the terms
    are summed in BUCKET ORDER on both engines (here: aggregate over a
    bucket-sorted array; DuckDB: ``SUM(term ORDER BY bucket)``), so the
    doubles match bit-for-bit before the final round.

    Scale shape: same as ``ks_from_histogram`` — one (group, bucket)
    aggregation over the scan, then all arithmetic on the dense
    |groups| x (nbins+2) grid; per-group arrays are at most nbins+2
    elements. Returns (group, chi2, dof, novel_buckets); the baseline
    group's own chi2 is 0.0 by construction.
    """
    dense = _dense_counts(df, value_col, group_col, lo, hi, nbins)
    totals = dense.groupBy("group").agg(F.sum("n").alias("_tot"))
    withtot = dense.join(F.broadcast(totals), "group")
    base = withtot.where(F.col("group") == baseline_group).select(
        "bucket",
        F.col("n").alias("_bn"),
        F.col("_tot").alias("_bt"),
    )
    joined = withtot.join(F.broadcast(base), "bucket", "left")
    bn = _absent_baseline_guard(
        F.col("_bn"), baseline_group, "chi2_from_histogram", "long"
    )
    # e is double-exact given the same op order on both engines:
    # (bn as double * tot_g) / tot_base, all exact int->double converts
    e = (bn.cast("double") * F.col("_tot")) / F.col("_bt")
    o = F.col("n").cast("double")
    term = F.when(bn > 0, (o - e) * (o - e) / e).otherwise(F.lit(0.0))
    per = joined.select(
        "group",
        F.struct(F.col("bucket"), term.alias("term")).alias("_bt_term"),
        F.when((F.col("_bn") == 0) & (F.col("n") > 0), 1)
        .otherwise(0)
        .alias("_novel"),
        F.when(bn > 0, 1).otherwise(0).alias("_used"),
    )
    return per.groupBy("group").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("_bt_term")),
                F.lit(0.0),
                lambda a, x: a + x["term"],
            ),
            4,
        ).alias("chi2"),
        (F.sum("_used") - F.lit(1)).cast("long").alias("dof"),
        F.sum("_novel").cast("long").alias("novel_buckets"),
    )


def emd_from_histogram(
    df: DataFrame,
    value_col: str,
    group_col: str,
    baseline_group: str,
    lo: float,
    hi: float,
    nbins: int = 10,
) -> DataFrame:
    """Binned Wasserstein-1 (earth-mover) distance per group vs a
    baseline group: ``sum_b |CDF_g(b) - CDF_base(b)| * bin_width``.

    The fourth drift lens: KL/PSI weight by probability mass (blind to
    HOW FAR mass moved), KS takes the single worst boundary, chi-square
    has a testable null — EMD is the one that scales with the DISTANCE
    the distribution shifted, so "every document got 5% longer" reads
    differently from "5% of documents doubled". On the clamped grid the
    under/overflow buckets carry one ``bin_width`` step like any other
    (documented approximation; widen [lo, hi) if tail mass matters).

    Cross-engine determinism: cumulative sums run on integer counts with
    ONE division per CDF value; |difference| terms are summed in BUCKET
    ORDER on both engines (here ``F.aggregate`` over a bucket-sorted
    array, DuckDB ``SUM(term ORDER BY bucket)``) and multiplied by the
    width once at the end, so the doubles match bit-for-bit before the
    final round.

    Scale shape: identical to ``ks_from_histogram`` — one map-side
    combinable (group, bucket) aggregation over the scan, then all
    arithmetic on the dense |groups| x (nbins+2) grid. Returns
    (group, emd); the baseline group's own emd is 0.0 by construction.
    """
    dense = _dense_counts(df, value_col, group_col, lo, hi, nbins)
    w = Window.partitionBy("group").orderBy("bucket")
    cum = dense.withColumn("cum_n", F.sum("n").over(w))
    totals = cum.groupBy("group").agg(F.max("cum_n").alias("_tot"))
    cdf = cum.join(totals, "group").select(
        "group", "bucket", (F.col("cum_n") / F.col("_tot")).alias("cdf")
    )
    base = cdf.where(F.col("group") == baseline_group).select(
        "bucket", F.col("cdf").alias("_base_cdf")
    )
    guarded = _absent_baseline_guard(
        F.col("_base_cdf"), baseline_group, "emd_from_histogram", "double"
    )
    width = (float(hi) - float(lo)) / int(nbins)
    per = cdf.join(F.broadcast(base), "bucket", "left").select(
        "group",
        F.struct(
            F.col("bucket"), F.abs(F.col("cdf") - guarded).alias("term")
        ).alias("_bt_term"),
    )
    return per.groupBy("group").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("_bt_term")),
                F.lit(0.0),
                lambda a, x: a + x["term"],
            )
            * F.lit(width),
            4,
        ).alias("emd")
    )


def mwu_from_histogram(
    df: DataFrame,
    value_col: str,
    group_col: str,
    baseline_group: str,
    lo: float,
    hi: float,
    nbins: int = 10,
) -> DataFrame:
    """Binned two-sample Mann-Whitney U per group vs a baseline group —
    the LOCATION-sensitive drift lens: KS takes the worst single
    boundary, PSI/chi-square weight by mass, EMD by distance; the
    rank-sum statistic answers the directional question "did this
    source's values systematically shift UP or DOWN vs baseline?", with
    a tie-corrected normal z-score whose sign is the shift direction.

    Each bucket is treated as one tie group (the binned test's
    standard reading): ``2U = sum_b n_g[b] * (2 * M_below[b] + m[b])``
    with m the baseline counts and M_below their running sum. The
    identity-vs-self case cancels exactly (z = 0 for the baseline
    group — the same self-test ks/emd have).

    Cross-engine determinism: every product is formed in IEEE double
    (counts can be 10^12 — the bigint product overflows int64 exactly
    like the PMI case) and both the 2U and tie-correction sums run in
    BUCKET ORDER (``F.aggregate`` over a bucket-sorted array here,
    ``SUM(term ORDER BY bucket)`` in the oracle), so the doubles match
    bit-for-bit before the final round.

    Scale shape: identical to ks/emd_from_histogram — one map-side
    combinable (group, bucket) aggregation over the scan, then all
    arithmetic on the dense |groups| x (nbins+2) grid. Returns
    (group, n, m, u, z); z is NULL when either side is empty or the
    variance degenerates (all mass in one bucket).
    """
    dense = _dense_counts(df, value_col, group_col, lo, hi, nbins)
    w = Window.partitionBy("group").orderBy("bucket")
    cum = dense.withColumn(
        "_below", F.sum("n").over(w) - F.col("n")
    )
    base = cum.where(F.col("group") == baseline_group).select(
        "bucket",
        F.col("n").alias("_m"),
        F.col("_below").alias("_m_below"),
    )
    guarded_m = _absent_baseline_guard(
        F.col("_m"), baseline_group, "mwu_from_histogram", "long"
    )
    j2 = dense.join(F.broadcast(base), "bucket", "left")
    u2_term = F.col("n").cast("double") * (
        F.lit(2.0) * F.col("_m_below").cast("double")
        + guarded_m.cast("double")
    )
    t = F.col("n").cast("double") + guarded_m.cast("double")
    tie_term = t * t * t - t
    per_g = j2.select(
        "group",
        F.col("n"),
        guarded_m.alias("_mb"),
        F.struct(
            F.col("bucket"),
            u2_term.alias("u2"),
            tie_term.alias("tie"),
        ).alias("_t"),
    ).groupBy("group").agg(
        F.sum("n").alias("n"),
        F.sum("_mb").alias("m"),
        F.aggregate(
            F.array_sort(F.collect_list("_t")),
            F.lit(0.0),
            lambda acc, s: acc + s["u2"],
        ).alias("_u2"),
        F.aggregate(
            F.array_sort(F.collect_list("_t")),
            F.lit(0.0),
            lambda acc, s: acc + s["tie"],
        ).alias("_ties"),
    )
    nd = F.col("n").cast("double")
    md = F.col("m").cast("double")
    u = F.col("_u2") / F.lit(2.0)
    big_n = nd + md
    var = (
        (nd * md / F.lit(12.0))
        * ((big_n + F.lit(1.0)) - F.col("_ties") / (big_n * (big_n - F.lit(1.0))))
    )
    z = F.when(
        (F.col("n") > 0) & (F.col("m") > 0) & (var > 0),
        (u - nd * md / F.lit(2.0)) / F.sqrt(var),
    )
    return per_g.select(
        "group",
        "n",
        "m",
        F.round(u, 2).alias("u"),
        F.round(z, 4).alias("z"),
    )


def js_from_histogram(
    df: DataFrame,
    value_col: str,
    group_col: str,
    baseline_group: str,
    lo: float,
    hi: float,
    nbins: int = 10,
) -> DataFrame:
    """Binned Jensen-Shannon divergence per group vs a baseline group —
    the BOUNDED, SYMMETRIC drift lens: KL blows up on novel buckets and
    PSI patches that with an epsilon floor, but JS is finite by
    construction (each term's mixture m = (p+q)/2 is positive wherever
    either side has mass) and capped at ln 2, so one threshold works for
    every column regardless of how disjoint the histograms get. The
    natural alarm metric when sources can have genuinely novel buckets
    (PSI's epsilon makes those look arbitrarily severe).

    JS(P,Q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m), with a zero side
    contributing zero (lim x→0 of x·ln(x/m) = 0) — no epsilon anywhere.

    Cross-engine determinism: p and q are single divisions of exact
    integer counts; each term is a fixed IEEE op sequence mirrored
    verbatim in the SQL oracle, and terms are summed in BUCKET ORDER on
    both engines (aggregate over a bucket-sorted array here,
    ``SUM(term ORDER BY bucket)`` in DuckDB), so the doubles match
    bit-for-bit before the final round.

    Scale shape: same as the other binned lenses — one (group, bucket)
    aggregation over the scan, then all arithmetic on the dense
    |groups| x (nbins+2) grid. Returns (group, js) for every group
    including the baseline (its js is 0.0 by construction).
    """
    dense = _dense_counts(df, value_col, group_col, lo, hi, nbins)
    totals = dense.groupBy("group").agg(F.sum("n").alias("_tot"))
    withtot = dense.join(F.broadcast(totals), "group")
    base = withtot.where(F.col("group") == baseline_group).select(
        "bucket",
        F.col("n").alias("_bn"),
        F.col("_tot").alias("_bt"),
    )
    joined = withtot.join(F.broadcast(base), "bucket", "left")
    bn = _absent_baseline_guard(
        F.col("_bn"), baseline_group, "js_from_histogram", "long"
    )
    p = F.col("n").cast("double") / F.col("_tot").cast("double")
    q = bn.cast("double") / F.col("_bt").cast("double")
    m = (p + q) / F.lit(2.0)
    # both branch CONDITIONS test the guarded integer count, not the
    # ratio: if the baseline is absent, AQE's empty-relation propagation
    # turns _bt into a literal null and null-propagation would fold
    # q = bn/null to null — silently deleting the raise_error guard from
    # a `q > 0` condition. `bn > 0` keeps the guard in the evaluated
    # path and is equivalent (q > 0 iff bn > 0 whenever the baseline
    # exists, since _bt >= 1 then).
    term = (
        F.when(p > 0, p * F.log(p / m) / F.lit(2.0)).otherwise(F.lit(0.0))
        + F.when(bn > 0, q * F.log(q / m) / F.lit(2.0)).otherwise(F.lit(0.0))
    )
    per = joined.select(
        "group",
        F.struct(F.col("bucket"), term.alias("term")).alias("_bt_term"),
    )
    return per.groupBy("group").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("_bt_term")),
                F.lit(0.0),
                lambda a, x: a + x["term"],
            ),
            4,
        ).alias("js")
    )


def spearman_rank_drift(
    df: DataFrame,
    key_col: str,
    group_col: str,
    baseline_group: str,
) -> DataFrame:
    """Spearman rank correlation of per-key frequencies between each
    group and a baseline group — the ORDINAL drift lens for categorical
    distributions: the binned lenses above ask "did the histogram move",
    this asks "did the FREQUENCY ORDERING of tokens/categories change"
    (rho 1 = same ranking, 0 = unrelated, <0 = inverted). A tokenizer
    swap or template takeover reorders the vocabulary's frequency ranks
    long before the mass moves enough to trip PSI.

    Each row of ``df`` is one observation of ``key_col`` (e.g. an
    exploded token); rho is computed over the SHARED key set of (group,
    baseline) — the intersection, so novel/vanished keys don't distort
    the ranks they're absent from (audit those with vocab_overlap /
    oov_profile). Ties get average ranks (the tie-corrected Spearman:
    Pearson on average ranks).

    Cross-engine determinism: 2·avg_rank = 2·rank + tie_count − 1 is an
    exact BIGINT (rho is invariant to the affine 2× scaling), and the
    moment sums + final ratio reuse :func:`stats.group_corr`'s exact
    integer-sum discipline, so DuckDB reproduces the doubles
    bit-for-bit. An absent baseline group raises inside the one
    existing action (same contract as the binned lenses) — an inner
    join alone would silently return zero rows.

    Scale shape: one (group, key) count aggregation over the scan
    (map-side combinable), one equi-join on key against the baseline
    slice, rank windows partitioned per group over the shared-vocab
    rows (|V| is tokenizer-bounded, not corpus-bounded), one moment
    aggregation. Returns (group, n_shared, rho) for every group with
    shared keys, including the baseline itself (rho 1.0 by construction
    — a cheap self-test; null when fewer than 2 shared keys or zero
    rank variance).
    """
    from .stats import group_corr

    counts = (
        df.filter(F.col(key_col).isNotNull())
        .select(
            F.coalesce(
                F.col(group_col).cast("string"), F.lit("__null__")
            ).alias("group"),
            F.col(key_col).cast("string").alias("_key"),
        )
        .groupBy("group", "_key")
        .agg(F.count(F.lit(1)).alias("_f"))
    )
    base = counts.where(F.col("group") == baseline_group).select(
        "_key", F.col("_f").alias("_bf")
    )
    pairs = counts.join(base, "_key", "inner")
    wg = Window.partitionBy("group").orderBy(F.col("_f").asc())
    wgt = Window.partitionBy("group", "_f")
    wb = Window.partitionBy("group").orderBy(F.col("_bf").asc())
    wbt = Window.partitionBy("group", "_bf")
    ranked = pairs.select(
        "group",
        (2 * F.rank().over(wg) + F.count(F.lit(1)).over(wgt) - 1)
        .cast("long")
        .alias("_x"),
        (2 * F.rank().over(wb) + F.count(F.lit(1)).over(wbt) - 1)
        .cast("long")
        .alias("_y"),
    )
    corr = group_corr(ranked, "_x", "_y", "group")
    out = corr.select("group", F.col("n").alias("n_shared"), F.col("corr").alias("rho"))
    # execution-time absent-baseline guard: a misspelled baseline makes
    # the inner join — and therefore the WHOLE result — empty, so a
    # row-level guard column would never be evaluated and a drift
    # monitor would read "no drift anywhere". Union in a sentinel branch
    # instead: its single aggregated row is always evaluated (raising
    # when the baseline has zero keys) and always filtered out when it
    # doesn't raise.
    base_n = counts.where(F.col("group") == baseline_group).agg(
        F.count(F.lit(1)).alias("_base_n")
    )
    sentinel = base_n.select(
        F.lit("__baseline_guard__").alias("group"),
        F.when(
            F.col("_base_n") == 0,
            F.raise_error(
                F.lit(
                    "spearman_rank_drift: baseline_group %r has no "
                    "keys (misspelled group, or all keys null?)"
                    % baseline_group
                )
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_shared"),
        F.lit(None).cast("double").alias("rho"),
    ).where(F.col("n_shared") < 0)
    return out.unionByName(sentinel)


def psi_equidepth(
    df: DataFrame,
    value_col: str,
    group_col: str,
    baseline_group: str,
    nbins: int = 10,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """PSI over EQUI-DEPTH buckets — boundaries are the BASELINE
    group's own quantiles, so baseline mass is ~1/nbins per bucket by
    construction. This is the heavy-tail-proof form of ``drift_psi``'s
    fixed-width bucketing: a length column whose p99.9 is 100× its
    median puts ~everything into one fixed-width bin (PSI reads ~0 no
    matter what moves); quantile buckets keep every bin informative
    with NO lo/hi/width tuning to maintain as the corpus grows.

    Buckets: ``bucket(v) = |{b in boundaries : v > b}|`` (ties at a
    boundary go low; duplicate boundaries from low-cardinality columns
    collapse into fewer occupied buckets — PSI's epsilon floor keeps
    the empties finite). ``exact=True`` computes boundaries with
    ``F.percentile`` (≡ DuckDB quantile_cont — the oracle form);
    ``exact=False`` uses ``percentile_approx`` (GK sketch, fixed
    memory), the 10^12 path with the same API.

    An absent baseline raises inside the one existing action (the
    boundary array is null, and every row's bucket expression checks
    it) rather than classifying the whole corpus into a null bucket.

    Scale shape: one baseline-only aggregation producing ONE broadcast
    row, a MAP-ONLY bucket assignment against it (no shuffle, no second
    scan shape; its array ``filter`` lambda is interpreted, outside
    whole-stage codegen), one (group, bucket) count aggregation,
    then PSI arithmetic on the dense |groups| × nbins grid, summed in
    bucket order on both engines. Returns (group, psi) including the
    baseline itself (its psi ≈ 0 — a cheap self-test).
    """
    if nbins < 2:
        raise ValueError("psi_equidepth: nbins must be >= 2")
    x = F.col(value_col).cast("double")
    pcts = F.array(
        *[F.lit(i / float(nbins)) for i in range(1, nbins)]
    )
    if exact:
        bexpr = F.percentile(x, pcts)
    else:
        bexpr = F.transform(
            F.percentile_approx(x, pcts, F.lit(accuracy)),
            lambda v: v.cast("double"),
        )
    bounds = (
        df.where(
            x.isNotNull()
            & (
                F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
                == baseline_group
            )
        ).agg(bexpr.alias("_bnds"))
    )
    bucket = F.when(
        F.col("_bnds").isNull(),
        F.raise_error(
            F.lit(
                "psi_equidepth: baseline_group %r has no values "
                "(misspelled group, or all values null?)" % baseline_group
            )
        ).cast("int"),
    ).otherwise(
        F.size(F.filter(F.col("_bnds"), lambda b: x > b)).cast("int")
    )
    counts = (
        df.where(x.isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
            .alias("group"),
            bucket.alias("bucket"),
        )
        .groupBy("group", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = df.sparkSession
    grid = (
        counts.select("group").distinct()
        .crossJoin(
            spark.range(0, nbins).select(
                F.col("id").cast("int").alias("bucket")
            )
        )
    )
    dense = grid.join(counts, ["group", "bucket"], "left").select(
        "group", "bucket", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    totals = dense.groupBy("group").agg(F.sum("n").alias("_tot"))
    withtot = dense.join(F.broadcast(totals), "group")
    base = withtot.where(F.col("group") == baseline_group).select(
        "bucket", F.col("n").alias("_bn"), F.col("_tot").alias("_bt")
    )
    joined = withtot.join(F.broadcast(base), "bucket", "left")
    p = F.greatest(
        F.col("n").cast("double") / F.col("_tot").cast("double"),
        F.lit(_EPS),
    )
    q = F.greatest(
        F.col("_bn").cast("double") / F.col("_bt").cast("double"),
        F.lit(_EPS),
    )
    term = (p - q) * F.log(p / q)
    per = joined.select(
        "group",
        F.struct(F.col("bucket"), term.alias("term")).alias("_bt_term"),
    )
    return per.groupBy("group").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("_bt_term")),
                F.lit(0.0),
                lambda a, v: a + v["term"],
            ),
            4,
        ).alias("psi")
    )


def quantile_shift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    baseline_group: str,
    quantiles=(0.1, 0.25, 0.5, 0.75, 0.9),
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-quantile drift profile: WHERE in the distribution each group
    departs from the baseline. The scalar lenses (PSI/KS/JS/EMD) say
    *that* a group moved; this one says *which part* moved — a p90
    blowup with a stable median is a scraper-tail problem, a uniform
    shift at every quantile is a genuine level change, and a p10 drop
    alone is a truncation bug. One row per (group, quantile):

        (group, quantile, group_value, baseline_value, shift)

    with ``shift = group_value - baseline_value`` (4-dp). The baseline
    group itself is included (all-zero shifts — a cheap self-test, the
    psi_equidepth convention).

    ``exact=True`` computes ``F.percentile`` (≡ DuckDB quantile_cont,
    the oracle form — buffers per-group values); ``exact=False``
    switches to ``percentile_approx`` (GK sketch, fixed memory), the
    10^12 path with the same API and output shape.

    An absent/misspelled baseline raises inside the single action (the
    broadcast baseline array is null and every output row checks it)
    rather than emitting all-null baselines.

    Scale shape: ONE (|groups| × |quantiles|)-row aggregation (per-group
    percentile arrays), a posexplode over the ≤|quantiles|-element
    arrays, and ONE broadcast baseline row — no per-row join, no second
    scan of the corpus.
    """
    qs = [float(p) for p in quantiles]
    if not qs or any(p < 0.0 or p > 1.0 for p in qs):
        raise ValueError(
            "quantile_shift: quantiles must be non-empty, each in [0, 1]; "
            "got %r" % (quantiles,)
        )
    if sorted(qs) != qs:
        raise ValueError(
            "quantile_shift: quantiles must be ascending, got %r"
            % (quantiles,)
        )
    x = F.col(value_col).cast("double")
    pcts = F.array(*[F.lit(p) for p in qs])
    if exact:
        qexpr = F.percentile(x, pcts)
    else:
        qexpr = F.transform(
            F.percentile_approx(x, pcts, F.lit(accuracy)),
            lambda v: v.cast("double"),
        )
    gq = (
        df.where(x.isNotNull())
        .groupBy(
            F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
            .alias("group")
        )
        .agg(qexpr.alias("_gq"))
    )
    # an agg (never a filter): the frame stays one-row even when the
    # baseline is absent, so the raise_error below actually fires
    # instead of the crossJoin silently emitting zero rows
    base = gq.agg(
        F.first(
            F.when(F.col("group") == baseline_group, F.col("_gq")),
            ignorenulls=True,
        ).alias("_bq")
    )
    qlits = F.array(*[F.lit(p) for p in qs])
    exploded = (
        gq.crossJoin(F.broadcast(base))
        .select(
            "group",
            F.posexplode(qlits).alias("_i", "quantile"),
            "_gq",
            "_bq",
        )
    )
    bval = F.when(
        F.col("_bq").isNull(),
        F.raise_error(
            F.lit(
                "quantile_shift: baseline_group %r has no values "
                "(misspelled group, or all values null?)" % baseline_group
            )
        ).cast("double"),
    ).otherwise(F.element_at("_bq", F.col("_i") + 1))
    gval = F.element_at("_gq", F.col("_i") + 1)
    return exploded.select(
        "group",
        "quantile",
        F.round(gval, 4).alias("group_value"),
        F.round(bval, 4).alias("baseline_value"),
        F.round(gval - bval, 4).alias("shift"),
    )
