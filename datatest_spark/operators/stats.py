"""Single wide aggregation pass — per-partition column statistics (SURVEY C1).

The stats family (count, null-rate, distinct-via-HLL, min/max/avg,
quantiles — BASELINE.json north_star) has one vocabulary,
``_stat_vocab``. ``column_stats`` computes all of it for the requested
columns; the suite's wide pass computes ``n_rows`` plus only the stats
its checks declare (``declared_stat_exprs``). Either way it is ONE
``groupBy(partition_key).agg(...)``, ~one shuffle at 10^12 rows.
Catalyst performs map-side partial aggregation for every expression
here, so the 100x ``web`` skew is combined before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)

DEFAULT_QUANTILES = [0.5, 0.95, 0.99]


def partition_key_col(partition_cols):
    """Human-readable partition identity, e.g. ``source=web`` (SURVEY C4).

    Carried through every plan so violations and verdicts are attributable
    to the same partition on parquet today and Iceberg in prod (§0).
    """
    parts = []
    for c in partition_cols:
        parts.append(F.concat(F.lit(c + "="), F.coalesce(F.col(c).cast("string"), F.lit("__null__"))))
    if not parts:
        return F.lit("__all__")
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, F.lit("/"), p)
    return out


def _stat_vocab(dtype):
    """The stats one column of ``dtype`` supports, as {stat: function
    from the column name to its aggregate Column}, in output order. A
    stat's name in a stats row is ``<column>__<stat>``.

      * every column: null count;
      * scalar columns: HLL distinct (approx_count_distinct);
      * numeric columns: min/max/avg;
      * array columns: avg length.

    Array/map/struct columns deliberately get NO HLL: hashing a ~300-int
    token array per row for a distinct estimate is the single most
    expensive expression in the pass and its value is marginal (distinct
    *arrays* ~ distinct doc_ids); measured on 4M rows it flipped the agg
    from CPU-bound to GC-bound and inverted thread scaling.
    """
    vocab = {"nulls": lambda c: F.sum(F.col(c).isNull().cast("long"))}
    if isinstance(dtype, T.ArrayType):
        vocab["avg_size"] = lambda c: F.avg(F.size(F.col(c)))
    elif not isinstance(dtype, (T.MapType, T.StructType)):
        vocab["approx_distinct"] = lambda c: F.approx_count_distinct(c)
        if isinstance(dtype, _NUMERIC):
            vocab["min"] = lambda c: F.min(c).cast("double")
            vocab["max"] = lambda c: F.max(c).cast("double")
            vocab["avg"] = lambda c: F.avg(F.col(c).cast("double"))
    return vocab


def declared_stat_exprs(df: DataFrame, names):
    """``n_rows`` plus one aggregate per stat name ``<column>__<stat>``
    of ``names``, for the suite's wide pass. A name whose column is not
    in ``df`` or whose stat that column does not support raises
    ValueError (plan time, before any job). The quantiles array is not
    declarable: a stats check bounds scalars."""
    types = dict((f.name, f.dataType) for f in df.schema.fields)
    exprs = [F.count(F.lit(1)).alias("n_rows")]
    for name in names:
        col, _sep, stat = name.rpartition("__")
        if col not in types:
            raise ValueError("stat %r: no column %r (columns: %s)" % (
                name, col, ", ".join(df.columns)))
        vocab = _stat_vocab(types[col])
        if stat not in vocab:
            raise ValueError("stat %r is not a stat of column %r; its "
                             "stats are: %s" % (name, col, ", ".join(
                                 col + "__" + s for s in vocab)))
        exprs.append(vocab[stat](col).alias(name))
    return exprs


def column_stats(
    df: DataFrame,
    partition_cols=("source",),
    columns=None,
    quantiles=DEFAULT_QUANTILES,
) -> DataFrame:
    """One wide agg (C1): per partition, ``n_rows`` plus every stat of
    each requested column, and for numeric columns the approx
    ``quantiles`` array (``<column>__quantiles``)."""
    columns = list(columns) if columns is not None else list(df.columns)
    types = dict((f.name, f.dataType) for f in df.schema.fields)
    exprs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        exprs.extend(
            build(c).alias(c + "__" + stat)
            for stat, build in _stat_vocab(types[c]).items()
        )
        if quantiles and isinstance(types[c], _NUMERIC):
            exprs.append(
                F.percentile_approx(F.col(c).cast("double"), quantiles).alias(
                    c + "__quantiles"
                )
            )
    keyed = df.withColumn("partition_key", partition_key_col(partition_cols))
    return keyed.groupBy("partition_key").agg(*exprs)


def group_shares(
    df: DataFrame, group_col: str = "source", n_alias: str = "n"
) -> DataFrame:
    """Corpus mixture audit: per-group row share and cumulative share,
    ranked by count — the first question about any training mixture
    ("what fraction is web, and how top-heavy is the blend?") and the
    input a mixture-weight rebalance needs.

    Returns (group, n, share, cum_share, rank) ordered by n desc with
    group-asc tie-break (deterministic, oracle-reproducible). Shares are
    single divisions over integer counts and the cumulative sum runs on
    integers before its one division, so a cross-engine oracle
    reproduces the doubles bit-for-bit.

    Scale shape: one map-side-combinable ``groupBy(group)`` over the
    scan; the rank window is single-partition but runs on the already-
    aggregated |groups| rows (a mixture has tens of sources, not 10^12).
    Null groups coalesce to '__null__', same convention as histogram().
    """
    from pyspark.sql import Window

    counts = (
        df.select(
            F.coalesce(
                F.col(group_col).cast("string"), F.lit("__null__")
            ).alias("group")
        )
        .groupBy("group")
        .agg(F.count(F.lit(1)).alias(n_alias))
    )
    w = Window.orderBy(F.col(n_alias).desc(), F.col("group").asc())
    tot = counts.agg(F.sum(n_alias).alias("_tot"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "group",
            n_alias,
            F.round(F.col(n_alias) / F.col("_tot"), 6).alias("share"),
            F.round(
                F.sum(n_alias).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                )
                / F.col("_tot"),
                6,
            ).alias("cum_share"),
            F.row_number().over(w).alias("rank"),
        )
    )


def quality_bands(
    df: DataFrame,
    score_col: str,
    group_col: str = "source",
    n_bands: int = 10,
    id_col: str = "doc_id",
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Curriculum banding: per-group quality-score bands —
    (id, group, score, band) with band 1 = lowest scores. The standard
    prelude to quality-ascending curricula and band-stratified mixture
    rebalancing (sample harder from the top deciles).

    Two variants, one API:

    ``exact=False`` (default, the 10^12 path): per-group band
    BOUNDARIES via ``approx_percentile(score, [1/n .. (n-1)/n])`` — ONE
    map-side-combinable aggregation over the scan — broadcast back
    (|groups| rows) and assigned map-only by counting boundaries below
    each score with ``F.aggregate`` over the boundary array. No
    per-group sort anywhere, so a dominant source (web at ~40% of a
    100 TB corpus) never serializes a single-task sort. Semantics
    difference vs NTILE: bands are VALUE-based — equal scores share a
    band, so band populations are only approximately equal (exactly
    equal only when scores are distinct and the sketch is exact);
    scores equal to a boundary land in the lower band.

    ``exact=True`` (the oracle/curriculum-audit variant): per-group
    ``NTILE`` — exactly equal band sizes, ties broken on ``id_col`` so
    the banding is deterministic and engine-portable (NTILE is ANSI).
    One hash exchange on the group + a per-group sort; the window is
    rank-based so it buffers spillable rows, never a set — but a
    pathologically hot group serializes its own sort, which is why
    this is not the default.

    Null scores land in band 1 in both variants (pinned explicitly —
    engines disagree on null ordering): an unscorable doc is lowest
    quality, not an error. Null groups band among themselves
    (groupBy/partitionBy both keep the null group).
    """
    if n_bands < 1:
        raise ValueError("n_bands must be >= 1, got %r" % (n_bands,))
    if exact:
        from pyspark.sql import Window

        w = Window.partitionBy(group_col).orderBy(
            F.col(score_col).asc_nulls_first(), F.col(id_col).asc()
        )
        return df.select(
            F.col(id_col),
            F.col(group_col),
            F.col(score_col),
            F.ntile(n_bands).over(w).alias("band"),
        )
    if n_bands == 1:
        return df.select(
            F.col(id_col),
            F.col(group_col),
            F.col(score_col),
            F.lit(1).alias("band"),
        )
    fracs = [i / n_bands for i in range(1, n_bands)]
    bounds = df.groupBy(group_col).agg(
        F.percentile_approx(
            F.col(score_col).cast("double"),
            F.array(*[F.lit(f) for f in fracs]),
            F.lit(accuracy),
        ).alias("_band_bounds")
    ).select(F.col(group_col).alias("_band_grp"), "_band_bounds")
    s = F.col(score_col).cast("double")
    # band = 1 + |{boundary b : score > b}|; null score → no boundary
    # beaten → band 1. percentile_approx skips nulls, so an all-null
    # group has a null bounds array — coalesce to empty = band 1.
    band = F.aggregate(
        F.coalesce(F.col("_band_bounds"), F.array().cast("array<double>")),
        F.lit(1),
        lambda acc, b: acc + F.when(s > b, F.lit(1)).otherwise(F.lit(0)),
    )
    # eqNullSafe: the null group must still find its own boundary row
    # (plain equality would orphan it into band 1 regardless of score)
    return (
        df.join(
            F.broadcast(bounds),
            F.col(group_col).eqNullSafe(F.col("_band_grp")),
            how="left",
        )
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col(score_col),
            band.alias("band"),
        )
    )


def context_length_profile(
    df: DataFrame,
    length_col: str = "n_tok",
    group_col: str = "source",
    capacity: int = 2048,
    exact: bool = True,
) -> DataFrame:
    """Per-group sequence-length diagnostics against a training context
    window — the pre-packing question: how much of each source exceeds
    the context, how many tokens truncation would burn, and how many
    packs concatenation needs.

    Returns per group: ``n_docs``, ``total_tokens``, ``max_len``,
    ``p50_len``/``p95_len``, ``n_over`` (docs longer than capacity),
    ``overflow_token_frac`` (share of tokens past the capacity
    boundary, = the loss of truncate-at-capacity; NULL for a group
    whose lengths are all zero — no tokens, no overflow share), and
    ``packs_needed`` (ceil(total/capacity), the concatenate-and-chop
    floor). Rows with null lengths are dropped (pack_sequences'
    contract); negative lengths are dropped with them.

    Scale shape: ONE groupBy over the scan; sums/counts/max combine
    map-side. ``exact=True`` percentiles buffer per-group values
    (bounded by the largest source — exactness buys the cross-engine
    oracle); ``exact=False`` switches to ``percentile_approx`` (GK
    sketch, fixed memory per group, map-side combinable) — the 10^12
    path, same API and column names.
    """
    if capacity <= 0:
        raise ValueError("capacity must be positive, got %r" % (capacity,))
    L = F.col(length_col).cast("long")
    g = F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
    if exact:
        p50 = F.percentile(L, F.lit(0.5))
        p95 = F.percentile(L, F.lit(0.95))
    else:
        p50 = F.percentile_approx(L, F.lit(0.5), F.lit(10000)).cast("double")
        p95 = F.percentile_approx(L, F.lit(0.95), F.lit(10000)).cast("double")
    return (
        df.where(L.isNotNull() & (L >= 0))
        .groupBy(g.alias("group"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(L).alias("total_tokens"),
            F.max(L).alias("max_len"),
            F.round(p50, 4).alias("p50_len"),
            F.round(p95, 4).alias("p95_len"),
            F.sum(
                F.when(L > capacity, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_over"),
            # guard the all-zero-length group: 0/0 is NULL in Spark but can
            # diverge (NaN) or throw under ANSI decimal paths elsewhere —
            # pin it to NULL on every engine
            F.when(
                F.sum(L) > 0,
                F.round(
                    F.sum(F.greatest(L - capacity, F.lit(0))) / F.sum(L),
                    6,
                ),
            ).alias("overflow_token_frac"),
            F.ceil(F.sum(L) / F.lit(float(capacity))).cast("long")
            .alias("packs_needed"),
        )
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    threshold: float = 3.5,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Robust per-group outlier detection: median + MAD (median absolute
    deviation), flagging rows whose robust z-score
    ``(x - median) / (1.4826 * MAD)`` exceeds ``threshold`` — the
    Iglewicz-Hoberg modified z-score. Unlike mean/stddev, a batch of
    corrupt documents cannot drag the center toward itself (50%
    breakdown point), which is the point of using it on corpus length /
    quality columns where the outliers ARE the signal.

    Returns one row per OUTLIER: (id, group, value, med, mad,
    robust_z). A group whose MAD is 0 (>= 50% of values identical)
    yields no outliers — the robust z is undefined there, and flagging
    "everything not equal to the mode" is never the intent; use
    quality_bands or an interval check for that shape. Null values are
    never outliers (they surface through null-rate/Invalid checks).

    Scale shape: TWO per-group aggregations (median, then median of
    absolute deviations) with a |groups|-row broadcast join after each
    — the corpus itself never shuffles. ``exact=True`` buffers
    per-group values inside ``F.percentile`` (the oracle form;
    percentile ≡ DuckDB quantile_cont, same proof as exact_quantiles);
    ``exact=False`` switches both medians to ``percentile_approx``
    (GK sketch, fixed memory) — the 10^12 path, same API.
    """
    if threshold <= 0:
        raise ValueError("threshold must be positive, got %r" % (threshold,))
    x = F.col(value_col).cast("double")

    def _median(col):
        if exact:
            return F.percentile(col, F.lit(0.5))
        return F.percentile_approx(col, F.lit(0.5), F.lit(accuracy)).cast(
            "double"
        )

    # internal names are prefixed: the caller's frame may legitimately
    # carry its own 'med'/'mad' columns (this operator targets stats
    # tables), and bare names would be AMBIGUOUS_REFERENCE after the join
    med = (
        df.where(x.isNotNull())
        .groupBy(F.col(group_col).alias("_mo_grp"))
        .agg(_median(x).alias("_mo_med"))
    )
    with_med = df.join(
        F.broadcast(med),
        F.col(group_col).eqNullSafe(F.col("_mo_grp")),
        how="inner",
    ).drop("_mo_grp")
    mad = (
        with_med.where(x.isNotNull())
        .groupBy(F.col(group_col).alias("_mo_grp"))
        .agg(_median(F.abs(x - F.col("_mo_med"))).alias("_mo_mad"))
    )
    z = (x - F.col("_mo_med")) / (F.lit(1.4826) * F.col("_mo_mad"))
    return (
        with_med.join(
            F.broadcast(mad),
            F.col(group_col).eqNullSafe(F.col("_mo_grp")),
            how="inner",
        )
        .drop("_mo_grp")
        .where(
            x.isNotNull()
            & (F.col("_mo_mad") > 0)
            & (F.abs(z) > F.lit(float(threshold)))
        )
        .select(
            F.col(id_col),
            F.col(group_col),
            x.alias("value"),
            F.round("_mo_med", 6).alias("med"),
            F.round("_mo_mad", 6).alias("mad"),
            F.round(z, 4).alias("robust_z"),
        )
    )


def group_corr(
    df: DataFrame,
    x_col,
    y_col,
    group_col: str = "source",
    scale_bits: int = 0,
) -> DataFrame:
    """Per-group Pearson correlation + least-squares line between two
    numeric columns from FIXED-POINT integer sums — the audit that says
    whether a quality signal is just length in disguise (corr(quality,
    n_chars) ≈ 1 means the "quality" gate is a length gate), or whether
    token count tracks characters the way the tokenizer promised.

    Built-in ``corr()`` streams doubles, so its result depends on
    partition order; here every moment (n, Σx, Σy, Σx², Σy², Σxy) is an
    exact BIGINT after ``floor(v·2^scale_bits)`` quantization
    (``scale_bits=0`` for already-integer columns) — associative,
    parallelism-invariant, and bit-identical to the DuckDB oracle. The
    final r/slope/intercept are a fixed sequence of IEEE double ops over
    those integers (num = n·Σxy − Σx·Σy; r = num/sqrt(dx·dy);
    slope = num/dx; intercept = (Σy − slope·Σx)/n), mirrored verbatim in
    SQL, so even the doubles match bit-for-bit before the round.

    Rows where either value is null are excluded (pairwise deletion);
    null groups coalesce to ``'__null__'`` (histogram convention).
    Groups with n < 2 or zero variance in either column yield NULL
    r/slope — never a division blow-up.

    Scale shape: ONE map-side-combinable aggregation over the scan
    (six integer sums), all arithmetic on |groups| rows. Exactness
    bound: sums stay exact while |Σ| < 2^63 and convert exactly to
    double below 2^53 — at 10^12 rows keep |v·2^scale_bits| under ~2^21
    (e.g. corpus lengths at scale_bits=0) or shard by a finer group.
    """
    gx = F.col(x_col) if isinstance(x_col, str) else x_col
    gy = F.col(y_col) if isinstance(y_col, str) else y_col
    mult = float(2 ** int(scale_bits))
    xi = F.floor(gx.cast("double") * F.lit(mult)).cast("long")
    yi = F.floor(gy.cast("double") * F.lit(mult)).cast("long")
    agg = (
        df.where(gx.isNotNull() & gy.isNotNull())
        .select(
            F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
            .alias("group"),
            xi.alias("_x"),
            yi.alias("_y"),
        )
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_x").alias("_sx"),
            F.sum("_y").alias("_sy"),
            F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
            F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
            F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    num = nd * F.col("_sxy").cast("double") - sx * sy
    dx = nd * F.col("_sxx").cast("double") - sx * sx
    dy = nd * F.col("_syy").cast("double") - sy * sy
    ok = (F.col("n") >= 2) & (dx > 0) & (dy > 0)
    slope = F.when((F.col("n") >= 2) & (dx > 0), num / dx)
    return agg.select(
        "group",
        "n",
        F.round(F.when(ok, num / F.sqrt(dx * dy)), 6).alias("corr"),
        F.round(slope, 6).alias("slope"),
        F.round(
            F.when((F.col("n") >= 2) & (dx > 0), (sy - slope * sx) / nd), 6
        ).alias("intercept"),
    )


def fd_audit(
    df: DataFrame,
    determinant: str,
    dependent: str,
    extra_keys=(),
) -> DataFrame:
    """Approximate functional-dependency audit: for the claimed FD
    ``determinant -> dependent``, emit one row per determinant value
    with the number of distinct dependent values it maps to, its
    majority dependent value, and ``n_violations`` = rows NOT carrying
    the majority value — the per-key term of Kivinen-Mannila's g3
    error (the minimum number of row deletions that would make the FD
    hold). A clean FD yields ``n_distinct_dep = 1, n_violations = 0``
    everywhere; schema-conformance suites assert exactly that, and the
    violation rows name the offending keys when it breaks.

    NULL dependent values form their own group (an FD where some rows
    lost the dependent IS violated), and the majority tie-break is
    deterministic: highest count first, then smallest dependent value
    with NULL sorted last (matching ``ASC NULLS LAST`` in the oracle).

    ``extra_keys`` prepends scoping columns (e.g. ``partition_key``)
    to both the count and the window so suite checks can assert the FD
    per partition without re-implementing the tie-break.

    Scale shape: ONE corpus-wide ``groupBy(det, dep)`` count — fully
    map-side combinable, so a 10^12-row table reduces to the
    |distinct (det, dep)| frame before the shuffle — then a window
    over that already-aggregated frame partitioned by ``det``. The
    corpus itself crosses the wire once, pre-combined; no join.
    """
    from pyspark.sql import Window

    extra = [str(k) for k in extra_keys]
    det, dep = F.col(determinant), F.col(dependent)
    pair = df.groupBy(
        *[F.col(k) for k in extra],
        det.alias("_fd_det"),
        dep.alias("_fd_dep"),
    ).agg(F.count(F.lit(1)).alias("_fd_n"))
    w = Window.partitionBy(*extra, "_fd_det")
    ranked = pair.select(
        *extra,
        "_fd_det",
        "_fd_dep",
        "_fd_n",
        F.row_number()
        .over(
            w.orderBy(
                F.col("_fd_n").desc(), F.asc_nulls_last("_fd_dep")
            )
        )
        .alias("_fd_rk"),
        F.sum("_fd_n").over(w).alias("n_rows"),
        F.count(F.lit(1)).over(w).alias("n_distinct_dep"),
    )
    return ranked.filter(F.col("_fd_rk") == 1).select(
        *extra,
        F.col("_fd_det").alias(determinant),
        "n_rows",
        "n_distinct_dep",
        F.col("_fd_dep").alias("majority_dep"),
        (F.col("n_rows") - F.col("_fd_n")).alias("n_violations"),
    )


def benford_digit_col(value_col: str, decimals: int = 2):
    """(cents, digit) Columns of the Benford digit discipline: values
    fixed-pointed to ``round(v * 10^decimals)`` BIGINT, leading digit
    from the INTEGER's decimal string — never float log10/pow, whose
    power-of-ten boundary behaviour differs between engines. Shared by
    :func:`benford_profile` and ``checks.BenfordCheck`` so the digit
    semantics are pinned in one place."""
    cents = F.round(
        F.col(value_col).cast("double") * F.lit(float(10 ** decimals))
    ).cast("long")
    return cents, F.substring(cents.cast("string"), 1, 1).cast("int")


def benford_expected(digit="digit"):
    """Benford's expected fraction log10(1 + 1/d) for a digit Column."""
    return F.log(10.0, F.lit(1.0) + F.lit(1.0) / F.col(digit))


def benford_profile(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    decimals: int = 2,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic fabricated-/corrupted-numeric-column screen for columns
    spanning several orders of magnitude (prices, revenues, counts).

    Values are fixed-pointed first (``round(value * 10^decimals)`` as
    BIGINT) and the leading digit is taken from the INTEGER's decimal
    string — never from float ``log10``/``pow``, whose boundary
    behaviour at exact powers of ten differs between engines and would
    flip a 1000.00 into digit 10. Non-positive and NULL values are
    excluded (Benford is defined on positive magnitudes; they surface
    through interval/null-rate checks instead).

    Output: one row per (group, digit 1-9) with ``n``, the observed
    fraction, and Benford's expected ``log10(1 + 1/d)`` — both rounded
    to 6 so engine float formatting cannot differ.

    Scale shape: map-only digit extraction + ONE groupBy over at most
    |groups| x 9 keys (map-side combinable); the per-group totals ride
    a window over the already-aggregated frame. No join, no second
    pass over the corpus.
    """
    from pyspark.sql import Window

    cents, digit = benford_digit_col(value_col, decimals)
    base = df.where(
        F.col(value_col).isNotNull() & (cents > 0)
    ).select(
        (F.col(group_col) if group_col else F.lit("all")).alias("group"),
        digit.alias("digit"),
    )
    agg = base.groupBy("group", "digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("group")
    exp_frac = benford_expected("digit")
    return agg.select(
        "group",
        "digit",
        "n",
        F.round(
            F.col("n") / F.sum("n").over(w), 6
        ).alias("obs_frac"),
        F.round(exp_frac, 6).alias("exp_frac"),
    )


def null_pattern_profile(
    df: DataFrame,
    columns,
    group_col: str | None = None,
) -> DataFrame:
    """Missingness-shape profile: count rows by their NULL pattern over
    ``columns`` — the '0110'-style bitmap (1 = NULL) that separates
    "lang missing at random" from "lang and text missing TOGETHER",
    which no per-column null-rate can see. Joint patterns are how
    upstream failures actually present (a broken extractor drops a
    correlated set of fields), so suites assert on pattern counts, not
    just marginals.

    Output: (group, pattern, n, n_nulls) with ``pattern`` ordered as
    the caller's column list and ``n_nulls`` its popcount; an
    all-clean table yields exactly one '000...' row per group.

    Scale shape: map-only bitmap construction + ONE groupBy over at
    most |groups| x 2^len(columns) keys — map-side combinable, so the
    corpus reduces to the tiny pattern frame before the shuffle.
    """
    if not columns:
        raise ValueError("null_pattern_profile needs at least one column")
    bits = [
        F.when(F.col(c).isNull(), F.lit("1")).otherwise(F.lit("0"))
        for c in columns
    ]
    pattern = F.concat(*bits) if len(bits) > 1 else bits[0]
    n_nulls = None
    for c in columns:
        term = F.col(c).isNull().cast("int")
        n_nulls = term if n_nulls is None else (n_nulls + term)
    return (
        df.select(
            (F.col(group_col) if group_col else F.lit("all")).alias("group"),
            pattern.alias("pattern"),
            n_nulls.cast("long").alias("n_nulls"),
        )
        .groupBy("group", "pattern", "n_nulls")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("group", "pattern", "n", "n_nulls")
    )


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    phi: float = 0.001,
    prefilter: bool = True,
    n_buckets: int = 1 << 20,
) -> DataFrame:
    """Per-group phi-heavy hitters: values carrying at least ``phi`` of
    their group's rows, with exact counts. The uniqueness screen's
    inverse — instead of "is every key rare enough", "which keys are
    suspiciously common" (a stuck upstream id, a default value flood, a
    crawler loop emitting one URL).

    ``prefilter=True`` (default, the 10^12 path) is a count-min row in
    DataFrame ops: phase 1 counts hash BUCKETS per group — the exchange
    carries at most |groups| x n_buckets keys after map-side combine,
    never |distinct values| — and only values living in a bucket that
    already clears the threshold are exactly counted in phase 2. A
    value's count never exceeds its bucket's, so the prefilter has ZERO
    false negatives; collisions only admit extra candidates, and the
    exact phase-2 count discards them. Output is therefore IDENTICAL to
    ``prefilter=False`` (the direct (group, value) groupBy — fine when
    the value domain is small, catastrophic when it is doc_id-sized);
    the equivalence is property-tested, and the oracle runs the direct
    form. Cost shape: two scans of (group, value) instead of one
    full-vocabulary shuffle.

    Thresholding uses ``n >= phi * n_total`` with the multiplication in
    IEEE double on both engines. NULL values participate like any other
    value (a NULL flood is exactly what this should catch), and a NULL
    GROUP becomes its own '__null__' row rather than vanishing through
    the equi-joins.
    """
    if not (0.0 < phi <= 1.0):
        raise ValueError("phi must be in (0, 1], got %r" % (phi,))
    # group key coalesced to '__null__' (the histogram convention): the
    # totals and prefilter joins are equi-joins, and a raw NULL key
    # would silently drop the whole null-group slice — the corrupted
    # partition this should catch most
    grp = (
        F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
        if group_col
        else F.lit("all")
    ).alias("_hh_grp")
    base = df.select(grp, F.col(value_col).alias("_hh_val"))
    totals = base.groupBy("_hh_grp").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    cand = base
    if prefilter:
        bucket = F.pmod(
            F.xxhash64(F.col("_hh_val")), F.lit(int(n_buckets))
        ).alias("_hh_b")
        heavy_buckets = (
            base.groupBy("_hh_grp", bucket)
            .agg(F.count(F.lit(1)).alias("_hh_bn"))
            .join(F.broadcast(totals), "_hh_grp")
            .where(F.col("_hh_bn") >= F.lit(float(phi)) * F.col("n_total"))
            .select("_hh_grp", "_hh_b")
        )
        cand = base.withColumn("_hh_b", bucket).join(
            heavy_buckets, ["_hh_grp", "_hh_b"], "left_semi"
        ).drop("_hh_b")
    return (
        cand.groupBy("_hh_grp", "_hh_val")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(totals), "_hh_grp")
        .where(F.col("n") >= F.lit(float(phi)) * F.col("n_total"))
        .select(
            F.col("_hh_grp").alias("group"),
            F.col("_hh_val").alias("value"),
            "n",
            "n_total",
            F.round(F.col("n") / F.col("n_total"), 6).alias("frac"),
        )
    )


# Poisson(1) inverse-CDF thresholds (k = 0..7; u above the last -> 8).
# Written as exact double literals so the Spark when-chain and the SQL
# CASE chain compare against bit-identical constants.
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
)


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    id_col: str = "doc_id",
    n_boot: int = 64,
    alpha: float = 0.05,
    seed: int = 0,
    scale_bits: int = 20,
) -> DataFrame:
    """Per-group mean with a POISSON-BOOTSTRAP confidence interval —
    the resampling scheme that actually works on a distributed table:
    classic bootstrap draws n-with-replacement (needs the whole group
    in one place); the Poisson bootstrap gives every row an i.i.d.
    Poisson(1) multiplicity instead, so resample b is a MAP-ONLY
    weighting of the original partitioning (Chamandy et al., Google
    2012, "Estimating Uncertainty for Massive Data Streams").

    Every weight is a PURE FUNCTION of (id, b, seed): u = (h+1)/2^16
    from the md5 of "id#b#seed" (power-of-two division — exact in
    binary fp, the weighted_sample discipline), pushed through the
    Poisson(1) inverse CDF as a when-chain over exact double literals.
    Reruns, resumes, any cluster size, and the DuckDB oracle produce
    identical intervals. Values are fixed-pointed
    (``floor(x * 2^scale_bits)`` bigint) so per-resample sums are
    associative; each resample mean is two IEEE divisions mirrored in
    the oracle.

    The interval is percentile-bootstrap: rank the resample means and
    take the ceil(alpha/2 * B)-th and ceil((1-alpha/2) * B)-th order
    statistics (deterministic resample-index tie-break). Resamples
    whose total weight is 0 (possible only for tiny groups) are
    dropped from the ranking; ``n_boot_used`` reports the survivors.

    Scale shape: the corpus is projected to (group, id, xf) FIRST,
    then exploded x B — CPU pays B small-row passes, but the shuffle
    carries only |groups| x B keys after map-side combine, and nothing
    is ever re-partitioned by id. Null values are excluded (they
    surface through null-rate checks).
    """
    if n_boot < 2:
        raise ValueError("n_boot must be >= 2, got %r" % (n_boot,))
    if not (0.0 < alpha < 1.0):
        raise ValueError("alpha must be in (0, 1), got %r" % (alpha,))
    from pyspark.sql import Window

    s = float(1 << scale_bits)
    # same '__null__' group coalesce as heavy_hitters: the final
    # full-stats <- ci join is an equi-join, and a raw NULL group would
    # report n_boot_used=0 with a NULL interval — indistinguishable from
    # "every resample had zero weight", which is a lie
    grp = (
        F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
        if group_col
        else F.lit("all")
    ).alias("_bs_grp")
    x = F.col(value_col).cast("double")
    base = df.where(x.isNotNull()).select(
        grp,
        F.col(id_col).cast("string").alias("_bs_id"),
        F.floor(x * F.lit(s)).cast("long").alias("_bs_xf"),
    )
    full = base.groupBy("_bs_grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            (F.sum("_bs_xf").cast("double") / F.count(F.lit(1)).cast("double"))
            / F.lit(s)
        ).alias("_mean"),
    )
    rep = base.withColumn(
        "_bs_b", F.explode(F.sequence(F.lit(1), F.lit(int(n_boot))))
    )
    hx = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("_bs_id"),
                    F.lit("#"),
                    F.col("_bs_b").cast("string"),
                    F.lit("#{0}".format(int(seed))),
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("double")
    u = (hx + F.lit(1.0)) / F.lit(65536.0)
    w = F.lit(8)
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u <= F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    means = (
        rep.select("_bs_grp", "_bs_b", w.alias("_bs_w"), F.col("_bs_xf"))
        .groupBy("_bs_grp", "_bs_b")
        .agg(
            F.sum("_bs_w").cast("long").alias("_ne"),
            F.sum(F.col("_bs_w") * F.col("_bs_xf")).cast("long").alias("_s"),
        )
        .where(F.col("_ne") > 0)
        .select(
            "_bs_grp",
            "_bs_b",
            (
                (F.col("_s").cast("double") / F.col("_ne").cast("double"))
                / F.lit(s)
            ).alias("_mb"),
        )
    )
    win = Window.partitionBy("_bs_grp")
    ranked = means.select(
        "_bs_grp",
        "_mb",
        F.row_number()
        .over(win.orderBy(F.col("_mb").asc(), F.col("_bs_b").asc()))
        .alias("_rk"),
        F.count(F.lit(1)).over(win).alias("_nb"),
    )
    lo_rk = F.ceil(F.lit(alpha / 2.0) * F.col("_nb")).cast("int")
    hi_rk = F.ceil(F.lit(1.0 - alpha / 2.0) * F.col("_nb")).cast("int")
    ci = ranked.groupBy("_bs_grp").agg(
        F.min(F.when(F.col("_rk") == lo_rk, F.col("_mb"))).alias("_lo"),
        F.min(F.when(F.col("_rk") == hi_rk, F.col("_mb"))).alias("_hi"),
        F.max("_nb").alias("n_boot_used"),
    )
    return (
        full.join(ci, "_bs_grp", "left")
        .select(
            F.col("_bs_grp").alias("group"),
            "n_rows",
            F.round("_mean", 6).alias("mean"),
            F.round("_lo", 6).alias("ci_lo"),
            F.round("_hi", 6).alias("ci_hi"),
            F.coalesce(F.col("n_boot_used"), F.lit(0)).alias("n_boot_used"),
        )
    )


def association_audit(
    df: DataFrame,
    col_a: str,
    col_b: str,
    scale_bits: int = 20,
) -> DataFrame:
    """Association between two categorical columns — ONE row with the
    chi-square independence statistic, mutual information (bits), and
    Cramér's V. The generalization of :func:`fd_audit`: an FD is the
    V = 1 extreme; V near 0 certifies independence (e.g. "is quality
    band independent of source?" — if not, a per-source quality gate
    is leaking source identity into the mixture).

    NULLs in either column form their own '__null__' category (a
    missing label is information, and silently dropping those rows
    would fake independence). All statistics come from fixed-point
    bigint sums of per-cell terms — each term is a deterministic IEEE
    double expression over exact integer counts with products cast to
    double BEFORE multiplying (int64 overflow starts at ~10^12 rows),
    floored at 2^scale_bits — so any parallelism and the SQL oracle
    reproduce the same result to the final rounding. Zero cells of the
    dense |A| x |B| grid contribute their expected mass to chi-square
    (omitting them understates dependence) and 0 to MI.

    Scale shape: ONE corpus-wide (a, b) count — map-side combinable,
    so the wire carries |A| x |B| cells — then margins, the dense
    grid, and the final 1-row agg all run on the cell frame. The
    corpus crosses the wire once, pre-combined.
    """
    s = float(1 << scale_bits)
    a = F.coalesce(F.col(col_a).cast("string"), F.lit("__null__"))
    b = F.coalesce(F.col(col_b).cast("string"), F.lit("__null__"))
    cells = df.groupBy(a.alias("_a"), b.alias("_b")).agg(
        F.count(F.lit(1)).alias("_o")
    )
    ra = cells.groupBy("_a").agg(F.sum("_o").alias("_ra"))
    cb = cells.groupBy("_b").agg(F.sum("_o").alias("_cb"))
    tot = cells.agg(
        F.sum("_o").alias("_n"),
        F.count(F.lit(1)).alias("_cells"),
    )
    grid = (
        ra.crossJoin(cb)
        .join(cells, ["_a", "_b"], "left")
        .select(
            "_a",
            "_b",
            "_ra",
            "_cb",
            F.coalesce(F.col("_o"), F.lit(0)).alias("_o"),
        )
        .crossJoin(F.broadcast(tot))
    )
    od = F.col("_o").cast("double")
    rad = F.col("_ra").cast("double")
    cbd = F.col("_cb").cast("double")
    nd = F.col("_n").cast("double")
    # chi2 term: (o*N - ra*cb)^2 / (ra*cb*N), doubles throughout
    num = od * nd - rad * cbd
    chi_term = F.floor((num * num) / (rad * cbd * nd) * F.lit(s)).cast("long")
    # MI term (bits): o * log2(o*N / (ra*cb)); zero cells contribute 0
    mi_term = F.when(
        F.col("_o") > 0,
        F.floor(
            F.log2((od * nd) / (rad * cbd)) * F.lit(s)
        ).cast("long")
        * F.col("_o"),
    ).otherwise(F.lit(0))
    agg = grid.agg(
        F.max("_n").alias("n"),
        F.count_distinct("_a").alias("n_a"),
        F.count_distinct("_b").alias("n_b"),
        F.sum(chi_term).alias("_chi_f"),
        F.sum(mi_term).alias("_mi_f"),
    )
    chi2 = F.col("_chi_f").cast("double") / F.lit(s)
    dof = (F.col("n_a") - 1) * (F.col("n_b") - 1)
    vmin = F.least(F.col("n_a") - 1, F.col("n_b") - 1)
    return agg.select(
        "n",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        dof.cast("long").alias("dof"),
        F.round(chi2, 4).alias("chi2"),
        F.round(
            (F.col("_mi_f").cast("double") / F.lit(s))
            / F.col("n").cast("double"),
            6,
        ).alias("mi_bits"),
        F.round(
            F.when(
                (F.col("n") > 0) & (vmin > 0),
                F.sqrt(chi2 / (F.col("n").cast("double") * vmin.cast("double"))),
            ),
            6,
        ).alias("cramers_v"),
    )


def concentration_indices(
    df: DataFrame,
    group_col: str = "source",
    weight_col: str | None = None,
) -> DataFrame:
    """Single-row corpus concentration audit: Gini coefficient, HHI
    (Herfindahl-Hirschman index) and top-group share over per-group
    mass — the scalar alarms a mixture monitor thresholds, where
    :func:`group_shares` is the per-group breakdown a human reads.
    Gini answers "how unequal is the blend overall" (0 = uniform,
    →1 = one group holds everything); HHI is the antitrust-style
    sum of squared shares (1/|groups| = uniform, 1 = monopoly) that
    moves sharply when the top few groups grow.

    ``weight_col=None`` counts rows; otherwise masses are
    ``sum(weight_col)`` (e.g. ``n_chars`` for byte-weighted shares —
    nulls skipped, negative weights are the caller's nonsense).

    Gini uses the sorted-rank identity G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n
    with ascending mass rank (group-asc tie-break, deterministic).

    Cross-engine determinism: counts and rank products are exact
    BIGINTs; Σx² runs in IEEE doubles (exact int→double per factor,
    deterministic per-multiply) summed in RANK ORDER on both engines
    (sorted-array aggregate here, ``SUM(sq ORDER BY i)`` in DuckDB);
    the final ratios are a fixed op sequence mirrored verbatim in SQL.

    Scale shape: one map-side-combinable ``groupBy(group)`` over the
    scan; the rank window and every index run on the aggregated
    |groups| rows (tens, not 10^12). Exactness bound: Σi·x stays an
    exact long while |groups|·Σx < 2^63. An empty frame (or an all-null
    weight column) yields one row with n_groups=0 and null indices —
    never a division blow-up.
    """
    from pyspark.sql import Window

    w = (
        F.count(F.lit(1))
        if weight_col is None
        else F.sum(F.col(weight_col).cast("long"))
    )
    per = (
        df.select(
            F.coalesce(
                F.col(group_col).cast("string"), F.lit("__null__")
            ).alias("group"),
            *([] if weight_col is None else [F.col(weight_col)]),
        )
        .groupBy("group")
        .agg(w.alias("mass"))
        .where(F.col("mass").isNotNull())
    )
    win = Window.orderBy(F.col("mass").asc(), F.col("group").asc())
    ranked = per.select(
        "group", "mass", F.row_number().over(win).cast("long").alias("i")
    )
    md = F.col("mass").cast("double")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("mass").alias("total"),
        F.sum(F.col("i") * F.col("mass")).alias("_sit"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), (md * md).alias("sq")))
            ),
            F.lit(0.0),
            lambda a, x: a + x["sq"],
        ).alias("_ssq"),
        F.max("mass").alias("_top_mass"),
        F.max_by("group", "i").alias("top_group"),
    )
    nd = F.col("n_groups").cast("double")
    td = F.col("total").cast("double")
    ok = (F.col("n_groups") > 0) & (F.col("total") > 0)
    return agg.select(
        "n_groups",
        "total",
        "top_group",
        F.round(
            F.when(ok, F.col("_top_mass").cast("double") / td), 6
        ).alias("top_share"),
        F.round(F.when(ok, F.col("_ssq") / (td * td)), 6).alias("hhi"),
        F.round(
            F.when(
                ok,
                F.lit(2.0) * F.col("_sit").cast("double") / (nd * td)
                - (nd + F.lit(1.0)) / nd,
            ),
            6,
        ).alias("gini"),
    )


def cusum_changepoints(
    df: DataFrame,
    value_col: str,
    order_col: str,
    group_col: str = "source",
    slack_k: float = 0.5,
    threshold_h: float = 4.0,
    scale_bits: int = 0,
) -> DataFrame:
    """Per-group CUSUM changepoint detection over an ordered series —
    the SEQUENTIAL volume/level monitor next to mad_outliers' pointwise
    one: a mean shift of 1σ never trips a robust-z threshold on any
    single day, but its cumulative sum grows linearly and crosses the
    CUSUM decision interval within a few points. The classic Page
    recursion C⁺_t = max(0, C⁺_{t-1} + (x_t − μ − kσ)) is re-expressed
    shuffle-free as running-sum minus running-min (and the mirrored
    C⁻ as running-max minus running-sum), so the whole detector is two
    window passes over one partitioning.

    μ and σ are the group's own mean and sample std — the usual
    retrospective form ("did the level shift anywhere in this
    window?"); pass a pre-filtered reference period for the
    prospective form. ``slack_k`` is the allowance in σ units (shifts
    below kσ are ignored), ``threshold_h`` the decision interval
    (flag when C± > hσ; 4–5 is the textbook range).

    Requires (group, order) to be unique — feed an aggregated series
    (e.g. the per-day counts volume_anomalies builds), not raw events.
    A duplicate (group, order) would make the ROWS-frame accumulation
    order nondeterministic — the silent kind of wrong — so it RAISES
    inside the one existing action instead. Null values/orders are
    dropped; groups with n < 2 or zero variance yield null cusums and
    never flag.

    Determinism: moments are exact BIGINT sums of
    floor(x·2^scale_bits) (the group_corr discipline; integer inputs at
    scale_bits=0 are exact), and both cumulative windows run in
    explicit ROWS order, so every IEEE double is reproduced by a SQL
    oracle running the same ordered frames.

    Scale shape: one map-side-combinable moments aggregation, one
    broadcast join of |groups| rows, ONE exchange on group for the
    sequential windows — the series is time-bounded (|days|·|groups|
    rows), not corpus-bounded.
    """
    from pyspark.sql import Window

    s = float(1 << int(scale_bits))
    xi = F.floor(F.col(value_col).cast("double") * F.lit(s)).cast("long")
    base = df.where(
        F.col(value_col).isNotNull() & F.col(order_col).isNotNull()
    ).select(
        F.coalesce(F.col(group_col).cast("string"), F.lit("__null__")).alias(
            "group"
        ),
        F.col(order_col).alias("t"),
        F.col(value_col).cast("double").alias("value"),
        xi.alias("_x"),
    )
    mom = base.groupBy("group").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    nd = F.col("_n").cast("double")
    sxd = F.col("_sx").cast("double")
    var = (nd * F.col("_sxx").cast("double") - sxd * sxd) / (
        nd * (nd - F.lit(1.0))
    )
    m = mom.select(
        "group",
        (sxd / nd).alias("_mu"),
        F.when((F.col("_n") >= 2) & (var > 0), F.sqrt(var)).alias("_sig"),
    )
    j = base.join(F.broadcast(m), "group")
    d = F.col("_x").cast("double") - F.col("_mu")
    wseq = Window.partitionBy("group").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # duplicate-(group, t) guard: with ties, the ROWS-frame fold order
    # is a plan artifact and the cusums silently diverge run-to-run —
    # raise inside the existing action instead (the count window rides
    # the same group exchange; (group, t) is a refinement key)
    dup = F.count(F.lit(1)).over(Window.partitionBy("group", "t"))
    guarded_value = F.when(
        dup > 1,
        F.raise_error(
            F.lit(
                "cusum_changepoints: duplicate (group, order) rows — "
                "aggregate the series first (e.g. one row per "
                "(group, day)); with ties the cumulative order is "
                "nondeterministic"
            )
        ).cast("double"),
    ).otherwise(F.col("value"))
    step = j.select(
        "group",
        "t",
        guarded_value.alias("value"),
        "_sig",
        F.sum(d - F.lit(slack_k) * F.col("_sig")).over(wseq).alias("_sp"),
        F.sum(d + F.lit(slack_k) * F.col("_sig")).over(wseq).alias("_sn"),
    )
    cpos = F.col("_sp") - F.least(F.min("_sp").over(wseq), F.lit(0.0))
    cneg = F.greatest(F.max("_sn").over(wseq), F.lit(0.0)) - F.col("_sn")
    out = step.select(
        "group",
        "t",
        "value",
        (cpos / F.lit(s)).alias("_cp"),
        (cneg / F.lit(s)).alias("_cn"),
        (F.col("_sig") / F.lit(s)).alias("_sigo"),
    )
    h = F.lit(float(threshold_h))
    return out.select(
        "group",
        "t",
        "value",
        F.round("_cp", 4).alias("cusum_pos"),
        F.round("_cn", 4).alias("cusum_neg"),
        F.when(
            F.col("_sigo").isNotNull(),
            (F.col("_cp") > h * F.col("_sigo"))
            | (F.col("_cn") > h * F.col("_sigo")),
        )
        .otherwise(F.lit(False))
        .alias("is_change"),
    )


def robust_location(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    trim: float = 0.05,
    scale_bits: int = 20,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-group trimmed and winsorized means next to the plain mean —
    the robust-location triple a corpus monitor tracks: when
    mean ≫ trimmed_mean the "shift" is a handful of extreme documents
    (scraper blowups, concatenation bugs), when all three move together
    the level genuinely shifted. mad_outliers names the extreme ROWS;
    this is the |groups|-row summary a dashboard thresholds.

    ``trim`` cuts each tail at the group's own [trim, 1−trim]
    quantiles: the trimmed mean averages only rows strictly inside the
    closed interval, the winsorized mean clamps every row to it.
    ``exact=True`` uses ``F.percentile`` (≡ DuckDB quantile_cont, the
    oracle form); ``exact=False`` switches to ``percentile_approx`` —
    the 10^12 path, same API.

    Determinism: every mean is an exact BIGINT sum of
    floor(v·2^scale_bits) divided once (the group_corr discipline) —
    winsorized values are clamped doubles, but floor-quantization makes
    their sum associative too, so all three means are
    parallelism-invariant and bit-identical to the SQL oracle.

    Scale shape: one quantile aggregation + one |groups|-row broadcast
    join + one map-side-combinable aggregation; the corpus never
    shuffles. Groups whose values are all null are absent (nothing to
    locate). Returns (group, n, lo, hi, mean, trimmed_mean,
    winsorized_mean, n_trimmed).
    """
    if not (0.0 <= trim < 0.5):
        raise ValueError(
            "robust_location: trim must be in [0, 0.5), got %r" % (trim,)
        )
    x = F.col(value_col).cast("double")
    s = float(1 << int(scale_bits))

    def _pct(col, p):
        if exact:
            return F.percentile(col, F.lit(p))
        return F.percentile_approx(col, F.lit(p), F.lit(accuracy)).cast(
            "double"
        )

    qs = (
        df.where(x.isNotNull())
        .groupBy(
            F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
            .alias("group")
        )
        .agg(
            _pct(x, trim).alias("_lo"),
            _pct(x, 1.0 - trim).alias("_hi"),
        )
    )
    rows = df.where(x.isNotNull()).select(
        F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
        .alias("group"),
        x.alias("_v"),
    )
    j = rows.join(F.broadcast(qs), "group")
    inside = (F.col("_v") >= F.col("_lo")) & (F.col("_v") <= F.col("_hi"))
    clamp = F.least(F.greatest(F.col("_v"), F.col("_lo")), F.col("_hi"))
    vq = F.floor(F.col("_v") * F.lit(s)).cast("long")
    cq = F.floor(clamp * F.lit(s)).cast("long")
    agg = j.groupBy("group").agg(
        F.count(F.lit(1)).alias("n"),
        F.first("_lo").alias("_flo"),
        F.first("_hi").alias("_fhi"),
        F.sum(vq).alias("_sv"),
        F.sum(F.when(inside, vq).otherwise(F.lit(0))).alias("_st"),
        F.sum(F.when(inside, F.lit(1)).otherwise(F.lit(0))).alias("_nt"),
        F.sum(cq).alias("_sw"),
    )
    nd = F.col("n").cast("double")
    ntd = F.col("_nt").cast("double")
    return agg.select(
        "group",
        "n",
        F.round(F.col("_flo"), 6).alias("lo"),
        F.round(F.col("_fhi"), 6).alias("hi"),
        F.round(F.col("_sv").cast("double") / nd / F.lit(s), 6).alias(
            "mean"
        ),
        F.round(
            F.when(
                F.col("_nt") > 0,
                F.col("_st").cast("double") / ntd / F.lit(s),
            ),
            6,
        ).alias("trimmed_mean"),
        F.round(F.col("_sw").cast("double") / nd / F.lit(s), 6).alias(
            "winsorized_mean"
        ),
        F.col("_nt").cast("long").alias("n_trimmed"),
    )


def percentile_rank_normalize(
    df: DataFrame,
    score_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    exact: bool = False,
    accuracy: int = 10000,
    nbins: int = 1000,
) -> DataFrame:
    """Cross-group score calibration: each row's within-group percentile
    rank — (id, group, score, pct_rank). Raw quality scores are not
    comparable across sources (a 0.7 from a clean-encyclopedia scorer
    and a 0.7 from a web scorer mean different things); ranking within
    the group puts every source on the same [0, 1] scale so ONE global
    threshold or curriculum schedule means the same thing everywhere.
    The continuous sibling of :func:`quality_bands` (same exact/approx
    contract).

    ``exact=True`` (the oracle form): ANSI ``CUME_DIST`` per group —
    pct_rank = (#rows with score <= mine) / (#scored rows in group),
    ties share a rank. Engine-portable, but the window serializes a
    per-group sort (a dominant source pays a single-task sort at
    10^12 — the quality_bands ceiling).

    ``exact=False`` (default, the 10^12 path): per-group
    ``approx_percentile`` boundaries at ``nbins`` evenly spaced
    fractions — ONE map-side-combinable agg — broadcast back and
    assigned MAP-ONLY: pct_rank ≈ (#boundaries < score) / nbins,
    quantized to 1/nbins (1000 bins ≈ 3 decimal places of rank, ample
    for thresholding/curricula). No per-group sort anywhere.

    Null scores get a null pct_rank in BOTH variants and are excluded
    from every denominator (an unscorable row must not silently rank
    lowest NOR shift its group's distribution). Null groups calibrate
    among themselves.
    """
    if nbins < 2:
        raise ValueError("nbins must be >= 2, got %r" % (nbins,))
    s = F.col(score_col).cast("double")
    if exact:
        from pyspark.sql import Window

        scored = df.where(s.isNotNull())
        w = Window.partitionBy(group_col).orderBy(s.asc())
        ranked = scored.select(
            F.col(id_col),
            F.col(group_col),
            F.col(score_col),
            F.round(F.cume_dist().over(w), 6).alias("pct_rank"),
        )
        skipped = df.where(s.isNull()).select(
            F.col(id_col),
            F.col(group_col),
            F.col(score_col),
            F.lit(None).cast("double").alias("pct_rank"),
        )
        return ranked.unionByName(skipped)
    fracs = [i / nbins for i in range(1, nbins)]
    bounds = (
        df.where(s.isNotNull())
        .groupBy(group_col)
        .agg(
            F.percentile_approx(
                s, F.array(*[F.lit(f) for f in fracs]), F.lit(accuracy)
            ).alias("_pr_bounds")
        )
        .select(F.col(group_col).alias("_pr_grp"), "_pr_bounds")
    )
    rank = F.when(s.isNull(), F.lit(None).cast("double")).otherwise(
        F.size(F.filter(F.col("_pr_bounds"), lambda b: b < s))
        .cast("double")
        / F.lit(float(nbins))
    )
    return (
        df.join(
            F.broadcast(bounds),
            F.col(group_col).eqNullSafe(F.col("_pr_grp")),
            how="left",
        )
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col(score_col),
            F.round(rank, 6).alias("pct_rank"),
        )
    )


def series_autocorr(
    df: DataFrame,
    value_col: str,
    order_col: str,
    group_col: str = "source",
    lags: tuple = (1,),
    scale_bits: int = 0,
) -> DataFrame:
    """Per-group lag-k autocorrelation of an ordered series — the
    STRUCTURE monitor next to mad_outliers' pointwise screen and
    CUSUM's level screen: organic daily volume carries periodicity
    (lag-7 autocorr high, lag-1 moderate), while an injected
    constant-rate feed or a replayed window flattens the
    autocorrelation structure long before any single day trips a
    threshold.

    ``autocorr`` at lag k is the Pearson correlation of (x_t, x_{t-k})
    over consecutive SERIES POSITIONS within the group (gaps collapse:
    a missing day pairs its neighbors — dense-fill the series first
    when calendar lags matter). Same fixed-point discipline as
    :func:`group_corr`: moments are exact BIGINTs after
    ``floor(v·2^scale_bits)`` (``scale_bits=0`` for integer series),
    the r arithmetic is the same fixed IEEE sequence, so the DuckDB
    oracle reproduces it bit-for-bit. Pairs where either side is null
    drop; groups with fewer than 2 pairs or zero variance on either
    side yield NULL. Duplicate (group, order) rows raise (lag order
    would be a plan artifact — aggregate the series first).

    Returns (group, lag, n_pairs, autocorr 6-dp), one row per group
    per requested lag (lags with no pairs yield no row).

    Scale shape: ALL requested lags ride ONE group-partitioned window
    exchange (the input is an aggregated series — |groups x points|
    rows, not the corpus); the per-lag pair frame explodes map-only
    from a |lags|-entry array and reduces in ONE map-side-combinable
    groupBy(group, lag) carrying six integer sums.
    """
    from pyspark.sql import Window

    lag_list = sorted({int(k) for k in lags})
    if not lag_list or lag_list[0] < 1:
        raise ValueError("lags must be non-empty positive ints, got %r"
                         % (lags,))
    s = float(2 ** int(scale_bits))
    xi = F.floor(F.col(value_col).cast("double") * F.lit(s)).cast("long")
    base = df.where(
        F.col(value_col).isNotNull() & F.col(order_col).isNotNull()
    ).select(
        F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
        .alias("group"),
        F.col(order_col).alias("t"),
        xi.alias("_x"),
    )
    dup = F.count(F.lit(1)).over(Window.partitionBy("group", "t"))
    guarded = F.when(
        dup > 1,
        F.raise_error(
            F.lit(
                "series_autocorr: duplicate (group, order) rows — "
                "aggregate the series first (one row per (group, "
                "order)); with ties the lag pairing is nondeterministic"
            )
        ).cast("long"),
    ).otherwise(F.col("_x"))
    w = Window.partitionBy("group").orderBy("t")
    lagged = base.select(
        "group",
        guarded.alias("_x"),
        *[F.lag("_x", k).over(w).alias("_y%d" % k) for k in lag_list],
    )
    pair_arr = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("lag"),
                F.col("_y%d" % k).alias("_y"),
            )
            for k in lag_list
        ]
    )
    agg = (
        lagged.select("group", "_x", F.explode(pair_arr).alias("p"))
        .where(F.col("p._y").isNotNull())
        .select("group", F.col("p.lag").alias("lag"), "_x",
                F.col("p._y").alias("_y"))
        .groupBy("group", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("_x").alias("_sx"),
            F.sum("_y").alias("_sy"),
            F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
            F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
            F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        )
    )
    nd = F.col("n_pairs").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    num = nd * F.col("_sxy").cast("double") - sx * sy
    dx = nd * F.col("_sxx").cast("double") - sx * sx
    dy = nd * F.col("_syy").cast("double") - sy * sy
    ok = (F.col("n_pairs") >= 2) & (dx > 0) & (dy > 0)
    return agg.select(
        "group",
        "lag",
        "n_pairs",
        F.round(F.when(ok, num / F.sqrt(dx * dy)), 6).alias("autocorr"),
    )


def band_migration(
    old: DataFrame,
    new: DataFrame,
    score_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    n_bands: int = 4,
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Quality-band transition matrix between two snapshots of the same
    corpus — the versioning lens on :func:`quality_bands`. snapshot
    deltas say WHICH documents changed; this says what the change did
    to the QUALITY STRUCTURE: a re-scoring run that silently demotes a
    source's top decile shows up as mass moving off the diagonal, and
    whole-band entries/exits expose filters that fired on one side
    only.

    Each side is banded independently with :func:`quality_bands`
    (same ``exact`` switch: approx boundaries for the 10^12 path,
    NTILE for the oracle/audit), then documents meet through ONE
    full-outer equi-join on ``id_col``. Returns (group, band_old,
    band_new, n, frac 6-dp): band_old NULL = entered (frac is within
    the group's entered mass), band_new NULL = exited; ``frac``
    normalizes n by the (group, band_old) row total. ``group`` is the
    old side's group (the new side's for entered docs), '__null__'
    for null groups; a document that changed groups counts under its
    OLD group — banding already happened per-side, the matrix only
    labels the flow.

    Scale shape: banding costs whatever quality_bands costs per side
    (map-only assignment in the default); the join is one hash
    exchange per side on the id — intrinsic to any versioned diff —
    and everything after runs on the |groups| x (n_bands+1)^2
    aggregate (the frac window included).
    """
    ob = quality_bands(
        old, score_col, group_col=group_col, n_bands=n_bands,
        id_col=id_col, exact=exact, accuracy=accuracy,
    ).select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_go"),
        F.col("band").alias("band_old"),
    )
    nb = quality_bands(
        new, score_col, group_col=group_col, n_bands=n_bands,
        id_col=id_col, exact=exact, accuracy=accuracy,
    ).select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_gn"),
        F.col("band").alias("band_new"),
    )
    from pyspark.sql import Window

    grp = F.coalesce(
        F.col("_go").cast("string"),
        F.col("_gn").cast("string"),
        F.lit("__null__"),
    )
    agg = (
        ob.join(nb, "_id", "full_outer")
        .groupBy(
            grp.alias("group"),
            F.col("band_old").cast("int").alias("band_old"),
            F.col("band_new").cast("int").alias("band_new"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("group", "band_old")
    return agg.select(
        "group",
        "band_old",
        "band_new",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6)
        .alias("frac"),
    )


# anchored, RE2∩Java-safe (no lookaround, no backrefs) — the pii_scan
# discipline, so DuckDB's regexp_matches classifies identically
LEXICAL_CLASSES = (
    ("int", r"^[+-]?\d+$"),
    ("num", r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"),
    ("bool", r"^(?i)(true|false|t|f|yes|no)$"),
    ("date", r"^\d{4}-\d{2}-\d{2}$"),
    ("timestamp", r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?$"),
    ("uuid", "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
             "-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"),
    ("json", r"^\s*[\[{][\s\S]*[\]}]\s*$"),
)


def lexical_type_profile(df: DataFrame, columns) -> DataFrame:
    """Schema-inference audit over string-form columns: per column the
    row count, nulls, whitespace-empties, and how many non-null values
    *lexically* parse as each of int / num / bool / date / timestamp /
    uuid / json, plus the inferred type — the first class (in that
    specificity order) matching EVERY non-null non-empty value, else
    ``string``.  This is the landing-zone gate: a CSV/JSON ingest whose
    "numeric" column suddenly infers ``string`` (one stray value) or
    whose id column stops being ``int`` fails loudly before a cast
    poisons downstream nulls.

    Lexical (regex) classification, not ``try_cast``, deliberately:
    engine cast rules differ in accepted formats, while these anchored
    RE2∩Java patterns classify identically in Spark and DuckDB — and
    identically on each engine's own string rendering of numerics
    (E-notation or not, both are ``num`` and neither is ``int``), so
    the audit is value-oracled cross-engine.

    Scale shape: MAP-ONLY scan — |columns|×|classes| ``rlike`` counters
    inside whole-stage codegen feeding one global aggregate (partial
    sums per task, a single final row); the per-column rows are then
    unpivoted from that one row driver-side-free via explode of a
    literal-sized array.  No shuffle beyond the scalar agg, no Python.
    """
    columns = list(columns)
    if not columns:
        raise ValueError("lexical_type_profile: columns must be non-empty")
    if len(set(columns)) != len(columns):
        # duplicate names would collide in the per-column aggregate
        # aliases and mis-resolve silently — fail loudly instead
        raise ValueError(
            "lexical_type_profile: duplicate column names: %r" % (columns,)
        )
    aggs = []
    for c in columns:
        s = F.col(c).cast("string")
        aggs.append(F.count(F.lit(1)).cast("long").alias(f"_n_{c}"))
        aggs.append(
            F.sum(F.when(s.isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"_null_{c}")
        )
        aggs.append(
            F.sum(
                F.when(s.isNotNull() & s.rlike(r"^\s*$"), 1).otherwise(0)
            )
            .cast("long")
            .alias(f"_empty_{c}")
        )
        for name, pat in LEXICAL_CLASSES:
            aggs.append(
                F.sum(F.when(s.isNotNull() & s.rlike(pat), 1).otherwise(0))
                .cast("long")
                .alias(f"_{name}_{c}")
            )
    one = df.agg(*aggs)
    rows = []
    for c in columns:
        valid = F.col(f"_n_{c}") - F.col(f"_null_{c}") - F.col(f"_empty_{c}")
        inferred = F.lit("string")
        # walk specificity in reverse so the FIRST all-matching class
        # in declaration order wins the chained when()
        for name, _ in reversed(LEXICAL_CLASSES):
            inferred = F.when(
                (valid > 0) & (F.col(f"_{name}_{c}") == valid), name
            ).otherwise(inferred)
        inferred = F.when(valid > 0, inferred).otherwise(F.lit("empty"))
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"_n_{c}").alias("n"),
                F.col(f"_null_{c}").alias("n_null"),
                F.col(f"_empty_{c}").alias("n_empty"),
                *[
                    F.col(f"_{name}_{c}").alias(f"n_{name}")
                    for name, _ in LEXICAL_CLASSES
                ],
                inferred.alias("inferred_type"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def cohen_kappa(
    df: DataFrame,
    col_a: str,
    col_b: str,
    group_col: str | None = None,
) -> DataFrame:
    """Chance-corrected agreement (Cohen's κ) between two categorical
    columns — the annotation-quality yardstick raw accuracy fakes: two
    raters stamping the majority class agree often by luck alone;
    κ = (p_o − p_e)/(1 − p_e) subtracts that luck (1 = perfect,
    0 = chance, <0 = systematic disagreement).  Use it to score a
    heuristic labeler against declared metadata (lang-id vs the lang
    column), two model versions against each other, or duplicated
    annotation batches.  Nulls are a category of their own (a rater
    abstaining IS a signal), spelled distinctly from any real value.

    Returns one row (per group): n, observed agreement ``po``, chance
    agreement ``pe``, ``kappa`` — null when a rater is constant AND
    agreement is total (pe = 1 leaves κ undefined).

    Cross-engine determinism: n / agree / the marginal product sum are
    exact integers (the product sum in DECIMAL(38,0) — Σ n_a·n_b can
    reach n² = 10^24 at corpus scale); po, pe, κ are a fixed IEEE op
    sequence on them, each rounded once.

    Scale shape: three map-side-combinable aggregates over one scan
    lineage (the pair counts, and one marginal per rater) joined on
    |categories| rows — no window, no Python, no member lists.
    """
    keys = ["group"] if group_col else []

    def _g(frame):
        if group_col:
            return frame.withColumn(
                "group",
                F.coalesce(
                    F.col(group_col).cast("string"), F.lit("__null__")
                ),
            )
        return frame

    nul = "\x00null\x00"
    base = _g(df).select(
        *keys,
        F.coalesce(F.col(col_a).cast("string"), F.lit(nul)).alias("_a"),
        F.coalesce(F.col(col_b).cast("string"), F.lit(nul)).alias("_b"),
    )
    tot = base.groupBy(*keys or [F.lit(1).alias("_one")]).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("_a") == F.col("_b"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    na = base.groupBy(*keys, "_a").agg(
        F.count(F.lit(1)).cast("long").alias("na")
    ).withColumnRenamed("_a", "_cat")
    nb = base.groupBy(*keys, "_b").agg(
        F.count(F.lit(1)).cast("long").alias("nb")
    ).withColumnRenamed("_b", "_cat")
    marg = (
        na.join(nb, keys + ["_cat"], "full_outer")
        .groupBy(*keys or [F.lit(1).alias("_one")])
        .agg(
            F.sum(
                F.coalesce(F.col("na"), F.lit(0)).cast("decimal(38,0)")
                * F.coalesce(F.col("nb"), F.lit(0)).cast("decimal(38,0)")
            ).alias("_s")
        )
    )
    joined = (
        tot.join(marg, keys, "inner")
        if keys
        else tot.crossJoin(marg.drop("_one"))
    )
    if not keys:
        joined = joined.drop("_one")
    nd = F.col("n").cast("double")
    po = F.col("agree").cast("double") / nd
    pe = F.col("_s").cast("double") / (nd * nd)
    return joined.select(
        *keys,
        "n",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round(
            F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)), 6
        ).alias("kappa"),
    )


def fd_discovery(
    df: DataFrame,
    columns,
    min_support: float = 0.99,
) -> DataFrame:
    """Approximate functional-dependency MINING over a column set: for
    every ordered pair a→b, the corpus-level Kivinen–Mannila g3 error
    (fraction of rows to delete for the FD to hold exactly) and whether
    it holds at ``min_support`` — the profiling pass that DISCOVERS the
    dependency structure :func:`fd_audit` then enforces per key.  An FD
    that held yesterday and slips today (g3 creeping above 1−support)
    is a join-key or ingest bug announcing itself.

    Nulls are values on both sides (fd_audit's rule: a row that lost
    its dependent violates the FD), spelled distinctly from any string.

    Returns (fd, n_rows, n_det, n_kept, g3, holds) per ordered pair —
    ``n_kept`` is Σ per-determinant majority counts, g3 = 1 − kept/n.

    Scale shape: ONE scan exploding each row into |pairs| tagged
    (pair, det, dep) rows — the groupBy(pair, det, dep) count combines
    map-side, so the wire carries |pairs|·|distinct value pairs|, not
    n·|pairs|; the majority-take and the per-pair rollup run on the
    aggregated frame (two more combinable groupBys, no window over
    data rows, no join).  Keep the column list to profiling width
    (≤ ~8 columns = 56 pairs), not every column of a wide table.
    """
    columns = list(columns)
    if len(columns) < 2:
        raise ValueError("fd_discovery: need at least two columns")
    if len(set(columns)) != len(columns):
        raise ValueError(
            "fd_discovery: duplicate column names: %r" % (columns,)
        )
    if not (0.0 < min_support <= 1.0):
        raise ValueError("fd_discovery: min_support must be in (0, 1]")
    nul = "\x00null\x00"

    def _s(c):
        return F.coalesce(F.col(c).cast("string"), F.lit(nul))

    structs = [
        F.struct(
            F.lit("{0}->{1}".format(a, b)).alias("fd"),
            _s(a).alias("det"),
            _s(b).alias("dep"),
        )
        for a in columns
        for b in columns
        if a != b
    ]
    pair_counts = (
        df.select(F.explode(F.array(*structs)).alias("p"))
        .select("p.*")
        .groupBy("fd", "det", "dep")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    per_det = pair_counts.groupBy("fd", "det").agg(
        F.max("n").alias("keep"), F.sum("n").alias("tot")
    )
    per_fd = per_det.groupBy("fd").agg(
        F.sum("tot").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_det"),
        F.sum("keep").cast("long").alias("n_kept"),
    )
    g3 = (
        F.lit(1.0)
        - F.col("n_kept").cast("double") / F.col("n_rows").cast("double")
    )
    return per_fd.select(
        "fd",
        "n_rows",
        "n_det",
        "n_kept",
        F.round(g3, 6).alias("g3"),
        (g3 <= F.lit(1.0 - min_support)).alias("holds"),
    )


def consolidate_rare(
    df: DataFrame,
    col: str,
    min_count: int,
    other: str = "__other__",
) -> DataFrame:
    """Long-tail category consolidation: values of ``col`` seen fewer
    than ``min_count`` times collapse to ``other`` — the prep step the
    categorical statistics need (a chi²/association contingency over a
    million singleton categories is noise; expected counts < 5 void the
    test) and the vocabulary-pruning move for one-hot/embedding feeds.
    Returns ``df`` with the column REPLACED (same name, string type);
    nulls stay null — they are already one consolidated bucket, and
    silently merging them into ``other`` would hide missingness from
    the null-rate checks downstream.

    Scale shape: one map-side-combinable frequency aggregate builds the
    keep-set (≤ n/min_count values by construction — broadcastable for
    any sane threshold), then ONE broadcast left join + when-chain maps
    the corpus; the big side never shuffles.  Deterministic: membership
    is exact counting, no sampling.
    """
    if min_count < 1:
        raise ValueError("consolidate_rare: min_count must be >= 1")
    clash = {"_val", "_keep"} & set(df.columns)
    if clash:
        raise ValueError(
            "consolidate_rare uses helper columns %s; rename or drop the "
            "conflicting input columns first" % sorted(clash)
        )
    v = F.col(col).cast("string")
    keep = (
        df.where(v.isNotNull())
        .groupBy(v.alias("_val"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_count)
        .select("_val", F.lit(True).alias("_keep"))
    )
    joined = df.withColumn("_val", v).join(
        F.broadcast(keep), "_val", "left"
    )
    replaced = (
        F.when(F.col("_val").isNull(), F.lit(None).cast("string"))
        .when(F.col("_keep"), F.col("_val"))
        .otherwise(F.lit(other))
    )
    return joined.withColumn(col, replaced).drop("_val", "_keep")


def candidate_keys(
    df: DataFrame,
    columns,
    max_arity: int = 2,
    min_ratio: float = 1.0,
) -> DataFrame:
    """Candidate-key mining: for every column set up to ``max_arity``
    (singletons and pairs), the distinct-combination count and
    ``uniqueness_ratio = n_distinct / n_rows`` — the discovery pass
    behind ``UniquenessCheck`` (which column set IS the key?) and the
    de-facto-key drift alarm (a ratio that slips below 1.0 on a column
    everyone joins on is an incident, found here before the join
    explodes).  ``is_key`` marks sets at or above ``min_ratio``
    (1.0 = exact key; 0.999… tolerates a known dup tail).

    Nulls are values (two null-keyed rows are duplicates of each
    other — exactly how a join would treat them after a coalesce),
    spelled distinctly from any string.

    Returns (key_set, arity, n_rows, n_distinct, uniqueness_ratio,
    is_key) per set, ratio rounded once.

    Scale shape: ONE scan explodes each row into |sets| tagged value
    tuples; the groupBy(set, value) count combines map-side (the wire
    carries |sets|·|distinct tuples|), and the per-set rollup is a
    second combinable aggregate.  Arity is capped at 2 by design —
    |sets| grows quadratically and 10^12-row profiling wants the
    pairwise sweep, not the powerset.
    """
    columns = list(columns)
    if not columns:
        raise ValueError("candidate_keys: columns must be non-empty")
    if len(set(columns)) != len(columns):
        raise ValueError(
            "candidate_keys: duplicate column names: %r" % (columns,)
        )
    if max_arity not in (1, 2):
        raise ValueError("candidate_keys: max_arity must be 1 or 2")
    if not (0.0 < min_ratio <= 1.0):
        raise ValueError("candidate_keys: min_ratio must be in (0, 1]")
    nul = "\x00null\x00"

    def _s(c):
        return F.coalesce(F.col(c).cast("string"), F.lit(nul))

    sets = [((c,), c) for c in columns]
    if max_arity == 2:
        for i, a in enumerate(columns):
            for b in columns[i + 1:]:
                sets.append(((a, b), a + "+" + b))
    structs = [
        F.struct(
            F.lit(name).alias("key_set"),
            F.lit(len(cols)).alias("arity"),
            F.concat_ws("\x1f", *[_s(c) for c in cols]).alias("val"),
        )
        for cols, name in sets
    ]
    per_val = (
        df.select(F.explode(F.array(*structs)).alias("p"))
        .select("p.*")
        .groupBy("key_set", "arity", "val")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    per_set = per_val.groupBy("key_set", "arity").agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    ratio = (
        F.col("n_distinct").cast("double") / F.col("n_rows").cast("double")
    )
    return per_set.select(
        "key_set",
        "arity",
        "n_rows",
        "n_distinct",
        F.round(ratio, 6).alias("uniqueness_ratio"),
        (ratio >= F.lit(float(min_ratio))).alias("is_key"),
    )
