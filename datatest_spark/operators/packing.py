"""Training-data pipeline composition operators: deterministic mixture
sampling and sequence packing.

These are the two ops that turn a validated document/sequence corpus
into an actual pretraining mix: choose how much of each source to keep
(mixture weights, possibly >1 for oversampling) and pack variable-length
documents into fixed-capacity training sequences. Both are deterministic
functions of the input — no RNG state — so reruns, resumed runs, and
cross-engine oracles (DuckDB) all agree row-for-row.

Scale notes (100 TB):
- ``mixture_sample`` is MAP-ONLY: a hash filter, plus a bounded explode
  (ceil(max rate) copies) only when some rate exceeds 1. No shuffle, no
  driver state; predicate pushdown still reaches the scan because the
  filter composes as a plain Column expression.
- ``pack_sequences`` needs a running sum per stream, which is inherently
  sequential — the distributed form shards each source into
  ``num_shards`` independent streams (hash of the order key) and packs
  each shard separately: one window per (source, shard), parallelism =
  sources x shards, no global sort. The unsharded form (num_shards=None)
  is the cross-engine-deterministic variant used by the DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _uniform01(id_expr, epoch_expr, hash_fn: str, seed: int):
    """Deterministic uniform [0,1) from (id, epoch). ``xxhash64`` is the
    production path (one JVM hash, 64-bit resolution); ``md5`` is the
    oracle path (16-bit resolution from the first 4 hex digits, portable
    to any engine with md5 — same arithmetic as hex4())."""
    if hash_fn == "md5":
        hx = F.substring(
            F.md5(
                F.concat(
                    id_expr.cast("string"),
                    F.lit("#"),
                    epoch_expr.cast("string"),
                    F.lit("#{0}".format(seed)),
                )
            ),
            1,
            4,
        )
        return F.conv(hx, 16, 10).cast("double") / F.lit(65536.0)
    return (
        F.pmod(F.xxhash64(id_expr, epoch_expr, F.lit(seed)), F.lit(1 << 20)).cast(
            "double"
        )
        / F.lit(float(1 << 20))
    )


def mixture_sample(
    df: DataFrame,
    rates: dict,
    source_col: str = "source",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    default_rate: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted mixture over sources — the 'data mixing'
    stage of a pretraining pipeline.

    ``rates[source]`` is the expected number of copies of each document
    from that source: 0.25 keeps a quarter of the docs, 1.0 keeps all,
    2.5 yields two full epochs plus a deterministic half epoch. A doc's
    copy ``epoch`` (0-based) survives iff ``epoch + u(id, epoch) <
    rate``, where u is a deterministic uniform hash — so expected copies
    = sum_e clamp(rate - e, 0, 1) = rate, and membership is a pure
    function of (id, epoch, seed): stable across reruns and engines.

    Output = input columns + ``epoch`` (int). When every rate <= 1 the
    plan is a bare filter (no explode, no row blowup); otherwise each row
    fans out to ceil(max rate) candidate copies first. Map-only either
    way: zero shuffles at any scale.
    """
    if not rates and default_rate <= 0:
        return df.withColumn("epoch", F.lit(0).cast("int")).where(F.lit(False))
    rate = F.lit(float(default_rate))
    for k in sorted(rates, reverse=True):
        rate = F.when(F.col(source_col) == F.lit(k), F.lit(float(rates[k]))).otherwise(
            rate
        )
    max_rate = max(list(rates.values()) + [default_rate])
    n_copies = max(1, int(math.ceil(max_rate)))
    if n_copies == 1:
        epoch = F.lit(0).cast("int")
        out = df.withColumn("epoch", epoch)
    else:
        out = df.withColumn(
            "epoch", F.explode(F.sequence(F.lit(0), F.lit(n_copies - 1)))
        )
    u = _uniform01(F.col(id_col), F.col("epoch"), hash_fn, seed)
    return out.where(F.col("epoch").cast("double") + u < rate)


def hash_split(
    df: DataFrame,
    weights: dict,
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row's split is the
    bucket of ``u(id, seed)`` in the cumulative-weight intervals (dict
    insertion order). Membership is a pure function of (id, seed) —
    stable across reruns, engines, and partitionings, and adding rows
    never reassigns existing ones. (Spark's ``randomSplit`` re-deals
    per partition layout; this is the reproducible-pipeline form.)

    ``weights`` need not sum to 1 (normalized internally). Null ids
    hash like any value (xxhash64(null) is defined; the md5 oracle form
    casts to string, so null ids land deterministically too).

    The hash input carries a ``'split'`` domain tag, so the uniform
    here is INDEPENDENT of mixture_sample's u(id, epoch, seed) — with
    a shared hash, sampling at rate r and then splitting 75/25 would
    put every survivor in the first split (both decisions would read
    the same u). Composing the two operators with default seeds is
    safe by construction.

    Scale shape: MAP-ONLY — one hash + when-chain per row, zero
    shuffles, stays in codegen.
    """
    if not weights:
        raise ValueError("hash_split: weights must be non-empty")
    names = list(weights)
    vals = [float(weights[n]) for n in names]
    if any(v < 0 for v in vals):
        raise ValueError("hash_split: weights must be >= 0")
    tot = sum(vals)
    if tot <= 0:
        raise ValueError("hash_split: weights must sum to > 0")
    u = _uniform01(F.col(id_col), F.lit("split"), hash_fn, seed)
    bounds = []
    cum = 0.0
    for n, v in zip(names, vals):
        cum += v
        bounds.append((n, cum / tot))
    col = None
    for n, ub in bounds[:-1]:
        col = (F.when(u < F.lit(ub), F.lit(n)) if col is None
               else col.when(u < F.lit(ub), F.lit(n)))
    last = F.lit(bounds[-1][0])
    col = last if col is None else col.otherwise(last)
    return df.withColumn(split_col, col)


def mixture_plan(
    df: DataFrame,
    targets: dict,
    length_col: str = "n_tok",
    source_col: str = "source",
    max_rate: float | None = None,
) -> DataFrame:
    """Token-budget mixture solver: per-source sampling rates that hit
    target TOKEN counts — the step before :func:`mixture_sample`, which
    thinks in document rates. ``targets[source]`` is the desired token
    budget; the rate is ``target / available`` (rates above 1 mean
    oversampling epochs, which mixture_sample supports), optionally
    clamped at ``max_rate``.

    Returns (source, n_docs, available_tokens, target_tokens, rate)
    for every source PRESENT in the corpus; sources without a target
    get rate 0 (dropped by the sample), targets naming absent sources
    are ignored (they have nothing to sample from). Null/negative
    lengths are dropped (pack_sequences' contract); null sources
    group under '__null__' and are targetable by that name.

    Scale shape: one map-side-combinable groupBy over the scan plus a
    |sources|-row broadcast join. The collected plan is |sources| rows
    — feed ``{r['source']: r['rate']}`` straight into mixture_sample.
    """
    if max_rate is not None and max_rate <= 0:
        raise ValueError("max_rate must be positive, got %r" % (max_rate,))
    for s, t in targets.items():
        if t is None or float(t) < 0:
            raise ValueError(
                "target for source %r must be >= 0, got %r" % (s, t)
            )
    L = F.col(length_col).cast("long")
    g = F.coalesce(F.col(source_col).cast("string"), F.lit("__null__"))
    avail = (
        df.where(L.isNotNull() & (L >= 0))
        .groupBy(g.alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(L).alias("available_tokens"),
        )
    )
    spark = df.sparkSession
    tdf = spark.createDataFrame(
        sorted((str(s), int(t)) for s, t in targets.items()),
        "source string, target_tokens long",
    )
    # coalesce the no-target null to 0 BEFORE any clamp: F.least skips
    # nulls, so least(null, max_rate) would hand max_rate to every
    # source without a target instead of the documented rate 0
    rate = F.coalesce(
        F.col("target_tokens") / F.col("available_tokens"), F.lit(0.0)
    )
    if max_rate is not None:
        rate = F.least(rate, F.lit(float(max_rate)))
    return (
        avail.join(F.broadcast(tdf), "source", "left")
        .select(
            "source",
            "n_docs",
            "available_tokens",
            F.coalesce(F.col("target_tokens"), F.lit(0)).alias(
                "target_tokens"
            ),
            F.when(F.col("available_tokens") > 0, F.round(rate, 6))
            .otherwise(F.lit(0.0))
            .alias("rate"),
        )
    )


def stratified_sample(
    df: DataFrame,
    n_per_group,
    group_col: str = "source",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    seed: int = 0,
) -> DataFrame:
    """Exact-N deterministic sample per group: rank each group's rows by
    a uniform hash of the id (id itself as tie-break) and keep the first
    N. Unlike ``df.sampleBy`` this is (a) exact — every group yields
    min(N, |group|) rows, never a binomial approximation — and (b) a
    pure function of (id, seed): reruns, resumed runs, and the DuckDB
    oracle select the identical rows.

    ``n_per_group`` is an int (same N everywhere) or a dict
    {group: N} (groups absent from the dict contribute nothing).

    Scale: one hash exchange on ``group_col``; the ``row_number() <= N``
    filter triggers Spark's WindowGroupLimit, so each map task forwards
    only its local top-N per group — the shuffle carries O(groups x N)
    rows, not the full table (plan-pinned in tests/test_plans.py).
    """
    n = _per_group_n(n_per_group, group_col)
    if hash_fn == "md5":
        order = F.md5(
            F.concat(F.col(id_col).cast("string"), F.lit("#{0}".format(seed)))
        )
    else:
        order = F.xxhash64(F.col(id_col), F.lit(seed))
    w = Window.partitionBy(group_col).orderBy(order.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= n)
        .drop("_rk")
    )


def _per_group_n(n_per_group, group_col: str):
    """Per-group sample size as a Column: an int applies everywhere, a
    dict {group: N} maps group values (absent groups contribute 0)."""
    if isinstance(n_per_group, dict):
        n = F.lit(0)
        for k in sorted(n_per_group, reverse=True):
            n = F.when(
                F.col(group_col) == F.lit(k), F.lit(int(n_per_group[k]))
            ).otherwise(n)
        return n
    return F.lit(int(n_per_group))


def weighted_sample(
    df: DataFrame,
    n_per_group,
    weight_col: str = "n_tok",
    group_col: str = "source",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    seed: int = 0,
) -> DataFrame:
    """Deterministic weight-biased sample: keep the N highest-PRIORITY
    rows per group, priority = weight / u with u a uniform (0, 1] hash
    of (id, seed) — classic priority sampling (Duffield, Lund & Thorup,
    JACM '07). Inclusion probability rises with weight (a row of twice
    the weight is selected whenever the lighter one would have been at
    the same u), heavy rows are near-certain picks, and the whole draw
    is a PURE FUNCTION of (id, seed): reruns, resumes, other cluster
    sizes, and the DuckDB oracle select identical rows.

    Cross-engine determinism of the float path: u is (h+1)/2^b with h an
    integer hash — a power-of-two division, EXACT in binary floating
    point — and priority is the single IEEE division weight/u, which is
    correctly rounded identically on the JVM and in DuckDB. No
    transcendental (no ln as in Efraimidis-Spirakis A-ES keys), so the
    ranking can never diverge between engines by one ulp.

    Rows with null or non-positive weight are excluded (they can never
    out-rank a positive weight; documentable as weight 0 = never
    sampled). ``n_per_group``: int or {group: N} dict, as in
    :func:`stratified_sample`.

    Scale shape: one hash exchange on ``group_col``; ``row_number() <=
    N`` triggers WindowGroupLimit so each map task forwards only its
    local top-N per group — O(groups x N) rows cross the shuffle.
    """
    w_val = F.col(weight_col).cast("double")
    if hash_fn == "md5":
        hx = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit("#{0}".format(seed)),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("double")
        u = (hx + F.lit(1.0)) / F.lit(65536.0)
    elif hash_fn == "xxhash64":
        h = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1 << 20))
        u = (h.cast("double") + F.lit(1.0)) / F.lit(float(1 << 20))
    else:
        raise ValueError(
            "hash_fn must be xxhash64|md5, got {0!r}".format(hash_fn)
        )
    prio = w_val / u
    n = _per_group_n(n_per_group, group_col)
    win = Window.partitionBy(group_col).orderBy(
        prio.desc(), F.col(id_col).asc()
    )
    return (
        df.where(w_val.isNotNull() & (w_val > 0))
        .withColumn("_rk", F.row_number().over(win))
        .where(F.col("_rk") <= n)
        .drop("_rk")
    )


def pack_sequences(
    df: DataFrame,
    length_col: str = "n_tok",
    capacity: int = 2048,
    part_col: str = "source",
    order_col: str = "doc_id",
    num_shards: int | None = None,
) -> DataFrame:
    """Assign each document to a fixed-capacity training pack —
    'concatenate the stream, chop every ``capacity`` tokens', the
    standard GPT-style packing discipline, expressed as a window cumsum.

    Within each stream (``part_col``, deterministically ordered by
    ``order_col``) a document starting at running offset ``s`` lands in
    pack ``floor(s / capacity)`` at offset ``s % capacity``. A document
    longer than the remaining room simply spans into the next pack
    (``n_packs_spanned`` reports how many boundaries it crosses) — no
    padding decision is baked in here; padding/truncation policy belongs
    to the consumer.

    ``num_shards`` splits each source into that many independent streams
    (hash-sharded on the order key) so the inherently-sequential cumsum
    parallelizes: one window per (source, shard). ``pack_id`` is then
    unique per (source, shard) and the output carries ``shard`` so pack
    keys remain globally unambiguous. The unsharded form is what the
    cross-engine oracle checks (plain SQL window, identical in DuckDB).

    Rows whose ``length_col`` is NULL or negative are DROPPED up front:
    a null length would hand the row a pack_id with null seq_len while
    the window cumsum skips it, and a negative length would corrupt the
    running offset of every later document in its stream. Zero-length
    rows are kept — they occupy a position at the current offset and
    consume no capacity.

    Output: ``order_col``, ``part_col`` [, ``shard``], ``pack_id``,
    ``pack_offset``, ``seq_len``.
    """
    if capacity <= 0:
        raise ValueError("capacity must be positive, got %r" % (capacity,))
    df = df.where(
        F.col(length_col).isNotNull() & (F.col(length_col) >= 0)
    )
    n = F.col(length_col).cast("long")
    parts = [F.col(part_col)]
    cols = [F.col(order_col), F.col(part_col)]
    if num_shards:
        df = df.withColumn(
            "shard",
            F.pmod(F.xxhash64(F.col(order_col)), F.lit(int(num_shards))).cast("int"),
        )
        parts.append(F.col("shard"))
        cols.append(F.col("shard"))
    w = (
        Window.partitionBy(*parts)
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum(n).over(w) - n
    df = df.withColumn("_start", start)
    pack = F.floor(F.col("_start") / capacity)
    end_pack = F.floor((F.col("_start") + F.greatest(n, F.lit(1)) - 1) / capacity)
    return df.select(
        *cols,
        pack.cast("long").alias("pack_id"),
        (F.col("_start") % capacity).cast("int").alias("pack_offset"),
        n.cast("int").alias("seq_len"),
        (end_pack - pack + 1).cast("int").alias("n_packs_spanned"),
    )


def pack_whole_docs(
    df: DataFrame,
    length_col: str = "n_tok",
    capacity: int = 2048,
    part_col: str = "source",
    order_col: str = "doc_id",
    num_shards: int | None = None,
) -> DataFrame:
    """Whole-document next-fit packing — the SFT-style complement to
    :func:`pack_sequences`: a document is never split across packs, so
    a pack closes when the next document would overflow ``capacity``.
    Documents LONGER than capacity cannot be packed whole and come back
    with NULL ``pack_id``/``pack_offset`` and ``fits = false`` (route
    them to truncation or chop-style packing); everything else gets
    (pack_id, pack_offset) in deterministic ``order_col`` order.

    Unlike the chop discipline, next-fit is a true sequential
    recurrence (the pack break depends on the running remainder), which
    no window/cumsum expression can state — this is the documented
    applyInPandas case: per-stream greedy packing in one Arrow-batched
    pass with O(1) state, numbers crossing the Python boundary once.

    ``num_shards`` hash-shards each source into independent streams
    exactly like pack_sequences, so the sequential scan parallelizes
    and ``(part, shard, pack_id)`` stays globally unambiguous. Null and
    negative lengths are DROPPED up front (pack_sequences' contract);
    zero-length docs occupy a position and consume no capacity.

    Output: ``order_col``, ``part_col`` [, ``shard``], ``pack_id``,
    ``pack_offset``, ``seq_len``, ``fits``.

    Scale shape: ONE exchange (the applyInPandas grouping on
    part [, shard]); each group streams through pandas with constant
    state. Waste vs first-fit-decreasing is bounded (next-fit is
    2-approximate) and next-fit preserves ``order_col`` adjacency,
    which FFD destroys — adjacency is usually worth more than the few
    percent of padding for curriculum- or time-ordered corpora.
    """
    import pandas as pd
    from pyspark.sql import types as T

    if capacity <= 0:
        raise ValueError("capacity must be positive, got %r" % (capacity,))
    df = df.where(
        F.col(length_col).isNotNull() & (F.col(length_col) >= 0)
    )
    keep = [order_col, part_col]
    if num_shards:
        df = df.withColumn(
            "shard",
            F.pmod(
                F.xxhash64(F.col(order_col)), F.lit(int(num_shards))
            ).cast("int"),
        )
        keep.append("shard")
    narrow = df.select(
        *keep, F.col(length_col).cast("long").alias("_len")
    )
    out_fields = [narrow.schema[c] for c in keep] + [
        T.StructField("pack_id", T.LongType()),
        T.StructField("pack_offset", T.IntegerType()),
        T.StructField("seq_len", T.IntegerType()),
        T.StructField("fits", T.BooleanType()),
    ]
    schema = T.StructType(out_fields)
    cap = int(capacity)

    def _pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(order_col, kind="mergesort")
        pack_ids, offsets, fits = [], [], []
        pack, off = 0, 0
        started = False
        for ln in pdf["_len"]:
            ln = int(ln)
            if ln > cap:
                pack_ids.append(None)
                offsets.append(None)
                fits.append(False)
                continue
            # off >= cap catches a zero-length doc landing after an
            # exactly-full pack: off+0 > cap is false there, but offset
            # == capacity is not a position that exists in the pack
            if started and (off + ln > cap or off >= cap):
                pack += 1
                off = 0
            started = True
            pack_ids.append(pack)
            offsets.append(off)
            fits.append(True)
            off += ln
        res = pdf[keep].copy()
        res["pack_id"] = pd.array(pack_ids, dtype="Int64")
        res["pack_offset"] = pd.array(offsets, dtype="Int32")
        res["seq_len"] = pdf["_len"].astype("int32")
        res["fits"] = fits
        return res

    group_cols = [part_col] + (["shard"] if num_shards else [])
    return narrow.groupBy(*group_cols).applyInPandas(_pack, schema)


def temperature_mixture_plan(
    df: DataFrame,
    budget_tokens: int,
    length_col: str = "n_tok",
    source_col: str = "source",
    alpha: float = 0.7,
    max_rate: float | None = None,
) -> DataFrame:
    """Temperature-scaled source mixture (the multilingual-LM sampling
    rule, e.g. mC4/mT5): source i gets share ``T_i^alpha / sum_j
    T_j^alpha`` of ``budget_tokens``, where ``T_i`` is its available
    token count. ``alpha=1`` reproduces natural proportions; ``alpha=0``
    is uniform over sources; the usual 0.2-0.7 range upweights
    low-resource sources without letting them dominate.

    Returns (source, n_docs, available_tokens, share, target_tokens,
    rate) for every source present — the same plan shape
    :func:`mixture_plan` emits, so ``{r['source']: r['rate']}`` feeds
    straight into :func:`mixture_sample`. Rates above 1 mean
    oversampling epochs; ``max_rate`` clamps them (the clamped plan
    under-fills the budget rather than silently re-normalizing —
    re-run with a lower alpha if that matters).

    Scale shape: ONE map-side-combinable groupBy over the scan; the
    share computation is a |sources|-row broadcast of the scalar
    denominator. Nothing corpus-sized shuffles.
    """
    if budget_tokens < 0:
        raise ValueError(
            "budget_tokens must be >= 0, got %r" % (budget_tokens,)
        )
    if alpha < 0:
        raise ValueError("alpha must be >= 0, got %r" % (alpha,))
    if max_rate is not None and max_rate <= 0:
        raise ValueError("max_rate must be positive, got %r" % (max_rate,))
    L = F.col(length_col).cast("long")
    g = F.coalesce(F.col(source_col).cast("string"), F.lit("__null__"))
    avail = (
        df.where(L.isNotNull() & (L >= 0))
        .groupBy(g.alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(L).alias("available_tokens"),
        )
    )
    # sources with zero available tokens carry zero weight at any alpha
    # (pow(0, 0) = 1 would hand uniform mass to empty sources)
    w = F.when(
        F.col("available_tokens") > 0,
        F.pow(F.col("available_tokens").cast("double"), F.lit(float(alpha))),
    ).otherwise(F.lit(0.0))
    weighted = avail.select("*", w.alias("_w"))
    denom = weighted.agg(F.sum("_w").alias("_dw"))
    share = F.when(
        F.col("_dw") > 0, F.col("_w") / F.col("_dw")
    ).otherwise(F.lit(0.0))
    target = F.floor(share * F.lit(int(budget_tokens))).cast("long")
    rate = F.coalesce(
        target / F.col("available_tokens"), F.lit(0.0)
    )
    if max_rate is not None:
        rate = F.least(rate, F.lit(float(max_rate)))
    return (
        weighted.crossJoin(F.broadcast(denom))
        .select(
            "source",
            "n_docs",
            "available_tokens",
            F.round(share, 6).alias("share"),
            target.alias("target_tokens"),
            F.when(F.col("available_tokens") > 0, F.round(rate, 6))
            .otherwise(F.lit(0.0))
            .alias("rate"),
        )
    )


def chunk_documents(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    size: int = 512,
    stride: int | None = None,
    min_len: int = 1,
    passthrough: tuple = (),
) -> DataFrame:
    """Split documents into fixed-size context-window chunks — the
    standard pre-training preparation step between cleaning and packing
    (ref:datatest has no chunker; this is part of the §2.12 pipeline
    surface). Works on STRING columns (character windows) and ARRAY
    columns (token windows): the unit is chosen from the column's own
    type, so one operator serves both the raw-text and the tokenized
    corpus.

    ``stride`` defaults to ``size`` (non-overlapping); ``stride < size``
    yields overlapping windows (the usual LM eval setup). Trailing
    windows shorter than ``min_len`` are dropped; null/empty content
    emits nothing. Output: (id_col, chunk_index, chunk_start, chunk_len,
    chunk [, passthrough...]) with 0-based start offsets.

    Scale shape: MAP-ONLY — one generate-offsets + explode + slice
    projection, zero Exchange (plan-pinned in
    tests/test_chunk_quantize_semdedup.py). The
    offsets array is O(len/stride) ints per row, bounded and transient;
    the explode multiplies rows but never shuffles them, so chunking
    composes with a downstream repartition-free write. The
    ``sequence()`` upper bound is kept total with ``greatest`` — Spark
    evaluates the projection in the same codegen stage as the length
    filter, and ``sequence(0, -1, s)`` throws even under a pruning
    filter.
    """
    if size < 1:
        raise ValueError("chunk_documents: size must be >= 1")
    if stride is None:
        stride = size
    if stride < 1:
        raise ValueError("chunk_documents: stride must be >= 1")
    if min_len < 1:
        raise ValueError("chunk_documents: min_len must be >= 1")
    dtype = dict(df.dtypes)[content_col]
    is_text = dtype in ("string", "varchar")
    c = F.col(content_col)
    n = F.length(c) if is_text else F.size(c)
    starts = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(int(stride))
    )
    base = df.where(c.isNotNull() & (n >= min_len)).select(
        F.col(id_col),
        *[F.col(p) for p in passthrough],
        c.alias("_content"),
        n.alias("_n"),
        F.explode(starts).alias("chunk_start"),
    )
    if is_text:
        chunk = F.substring(
            F.col("_content"), F.col("chunk_start") + 1, size
        )
        chunk_len = F.length(chunk)
    else:
        chunk = F.slice(F.col("_content"), F.col("chunk_start") + 1, size)
        chunk_len = F.size(chunk)
    return (
        base.select(
            id_col,
            *passthrough,
            (F.col("chunk_start") / F.lit(int(stride)))
            .cast("int")
            .alias("chunk_index"),
            F.col("chunk_start").cast("int").alias("chunk_start"),
            chunk_len.cast("int").alias("chunk_len"),
            chunk.alias("chunk"),
        )
        .where(F.col("chunk_len") >= min_len)
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int = 0,
    num_shards: int = 64,
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    seed: int = 0,
) -> DataFrame:
    """Deterministic global training-order shuffle for one epoch:
    returns the input plus (shard, pos) — shard in [0, num_shards), pos
    the 1-based position within the shard — such that reading shards in
    order, each sorted by pos, yields a pseudo-random document order
    that is a PURE FUNCTION of (id, epoch, seed). Different epochs give
    decorrelated orders (epoch feeds the hash, the same trick
    mixture_sample uses for oversampling epochs); reruns, resumes and
    the DuckDB oracle reproduce the identical order.

    Scale shape: ONE hash exchange on shard; within a shard the
    row_number window sorts by (hash, id) — rank-based, spills, no
    array buffering. Size ``num_shards`` so a shard fits a task
    (10^12 rows / 10^5 shards = 10^7 rows/shard): the per-shard sort is
    the intrinsic cost of materializing a total order, and shards are
    written/read independently so downstream loaders stream them in
    parallel. Never use a single global orderBy for this — that is one
    range exchange plus a driver-fed boundary sample per epoch.
    """
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1, got %r" % (num_shards,))
    clash = {"shard", "pos", "_h", "_shard"} & set(df.columns)
    if clash:
        raise ValueError(
            "epoch_shuffle writes columns %s; rename or drop the "
            "conflicting input columns first" % sorted(clash)
        )
    if hash_fn == "md5":
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit("#e{0}#s{1}".format(int(epoch), seed)),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
    elif hash_fn == "xxhash64":
        h = F.xxhash64(F.col(id_col), F.lit(int(epoch)), F.lit(seed))
    else:
        raise ValueError(
            "hash_fn must be xxhash64|md5, got {0!r}".format(hash_fn)
        )
    shard = F.pmod(h, F.lit(int(num_shards))).cast("int")
    win = Window.partitionBy("_shard").orderBy(
        F.col("_h").asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_h", h)
        .withColumn("_shard", shard)
        .withColumn("pos", F.row_number().over(win))
        .withColumnRenamed("_shard", "shard")
        .drop("_h")
    )


def length_bucket_batches(
    df: DataFrame,
    batch_size: int,
    length_col: str = "n_tok",
    bucket_edges: tuple = (64, 128, 256, 512, 1024, 2048),
    id_col: str = "doc_id",
    num_shards: int = 1,
    hash_fn: str = "xxhash64",
    seed: int = 0,
) -> DataFrame:
    """Length-bucketed batch assignment — the padding-waste killer for
    sequence training: rows are bucketed by ``bucket_edges`` (bucket b
    holds lengths in (edges[b-1], edges[b]]; bucket 0 is <= edges[0],
    the last bucket is everything above the top edge), then grouped
    into fixed-size batches of similar length so per-batch padding to
    the batch max wastes far fewer tokens than random batching.

    Returns (id, length, bucket, shard, batch_id, batch_pos) — batch
    membership is DETERMINISTIC: within (bucket, shard), rows order by
    (length desc, hash, id) and batch_id = (rank-1) / batch_size.
    Longest-first ordering makes the first batches the tightest and
    strands the ragged remainder in the LAST batch of each bucket, the
    one a loader can drop or rebalance.

    Rows with null or non-positive length are EXCLUDED (they cannot be
    padded meaningfully; route them through a validation gate instead).

    Scale shape: one hash exchange on (bucket, shard); the row_number
    window is rank-based and spills. A dominant bucket (most web text
    lands in one or two length bands) would serialize its own sort at
    10^12 rows — shard it with ``num_shards`` > 1: batches then form
    within (bucket, shard), still deterministic, and the hot bucket's
    sort splits across ``num_shards`` tasks (same discipline as
    pack_sequences / pack_whole_docs sharding).
    """
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1, got %r" % (batch_size,))
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1, got %r" % (num_shards,))
    if not bucket_edges or list(bucket_edges) != sorted(set(bucket_edges)):
        raise ValueError(
            "bucket_edges must be non-empty and strictly increasing, "
            "got %r" % (bucket_edges,)
        )
    clash = {"bucket", "shard", "_h"} & set(df.columns)
    if clash:
        raise ValueError(
            "length_bucket_batches writes columns %s; rename or drop "
            "the conflicting input columns first" % sorted(clash)
        )
    L = F.col(length_col).cast("long")
    bucket = F.lit(len(bucket_edges))
    for i in range(len(bucket_edges) - 1, -1, -1):
        bucket = F.when(L <= F.lit(int(bucket_edges[i])), F.lit(i)).otherwise(
            bucket
        )
    if hash_fn == "md5":
        h = F.md5(
            F.concat(F.col(id_col).cast("string"), F.lit("#{0}".format(seed)))
        )
    elif hash_fn == "xxhash64":
        h = F.xxhash64(F.col(id_col), F.lit(seed)).cast("string")
    else:
        raise ValueError(
            "hash_fn must be xxhash64|md5, got {0!r}".format(hash_fn)
        )
    shard = (
        F.pmod(
            F.conv(F.substring(F.md5(h), 1, 8), 16, 10).cast("long"),
            F.lit(int(num_shards)),
        ).cast("int")
        if hash_fn == "md5"
        else F.pmod(
            F.xxhash64(F.col(id_col), F.lit(seed + 1)), F.lit(int(num_shards))
        ).cast("int")
    )
    win = Window.partitionBy("bucket", "shard").orderBy(
        L.desc(), F.col("_h").asc(), F.col(id_col).asc()
    )
    rk = F.row_number().over(win)
    return (
        df.where(L.isNotNull() & (L > 0))
        .withColumn("_h", h)
        .withColumn("bucket", bucket)
        .withColumn("shard", shard)
        .select(
            F.col(id_col),
            L.alias("length"),
            "bucket",
            "shard",
            ((rk - 1) / F.lit(int(batch_size)))
            .cast("long")
            .alias("batch_id"),
            (F.pmod(rk - 1, F.lit(int(batch_size))) + 1)
            .cast("int")
            .alias("batch_pos"),
        )
    )


def padding_efficiency(
    batches: DataFrame,
) -> DataFrame:
    """Per-(bucket, shard) padding audit over a
    :func:`length_bucket_batches` result: tokens kept vs tokens padded
    when every batch pads to its own max length. Returns (bucket,
    shard, n_batches, n_rows, kept_tokens, padded_tokens, pad_frac).

    One aggregation over (bucket, shard, batch_id) then one over
    (bucket, shard) — both map-side combinable; |buckets x shards x
    batches| intermediate rows only.
    """
    per_batch = batches.groupBy("bucket", "shard", "batch_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("length").alias("_mx"),
        F.sum("length").alias("_sum"),
    )
    return (
        per_batch.groupBy("bucket", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_batches"),
            F.sum("_n").cast("long").alias("n_rows"),
            F.sum("_sum").cast("long").alias("kept_tokens"),
            (F.sum(F.col("_mx") * F.col("_n")) - F.sum("_sum"))
            .cast("long")
            .alias("padded_tokens"),
        )
        .withColumn(
            "pad_frac",
            F.when(
                F.col("kept_tokens") + F.col("padded_tokens") > 0,
                F.round(
                    F.col("padded_tokens")
                    / (F.col("kept_tokens") + F.col("padded_tokens")),
                    6,
                ),
            ),
        )
    )


def assign_shards(
    df: DataFrame,
    num_shards: int,
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    seed: int = 0,
    shard_col: str = "shard",
) -> DataFrame:
    """Deterministic output-shard assignment: ``floor(u(id) * n)`` over
    the domain-tagged uniform (tag ``'shard'`` — independent of
    mixture_sample / hash_split decisions by construction, same
    argument as hash_split's tag). A pure function of (id, seed), so a
    re-run, a different partitioning, or an incremental append places
    every existing row in the SAME shard — which ``repartition`` /
    ``randomSplit`` cannot promise. MAP-ONLY, zero Exchange.
    """
    if num_shards < 1:
        raise ValueError("assign_shards: num_shards must be >= 1")
    u = _uniform01(F.col(id_col), F.lit("shard"), hash_fn, seed)
    return df.withColumn(
        shard_col, F.floor(u * F.lit(float(num_shards))).cast("int")
    )


def shard_manifest(
    df: DataFrame,
    num_shards: int = 16,
    id_col: str = "doc_id",
    content_col: str = "text",
    length_col: str | None = None,
    hash_fn: str = "xxhash64",
    seed: int = 0,
) -> DataFrame:
    """Per-shard manifest for a training-data export: row count, total
    payload length, and an ORDER-INSENSITIVE content checksum —
    ``bit_xor`` of a per-row hash of (id, content) — so a loader (or a
    re-run) can verify a shard byte-for-byte without assuming any row
    order. XOR is associative/commutative with no overflow, so the
    checksum is parallelism-invariant and identical across engines;
    content is coalesced to '' before hashing so null-text rows still
    contribute (a vanished row always changes the checksum).

    ``hash_fn='xxhash64'`` is the production path (one JVM hash);
    ``'md5'`` is the portable oracle path (first 15 hex digits → 60-bit
    int, same arithmetic both engines).

    Scale shape: one MAP-ONLY shard+hash projection, then ONE
    map-side-combinable aggregation to |shards| rows.
    """
    sharded = assign_shards(df, num_shards, id_col, hash_fn, seed)
    idc = F.col(id_col)
    content = F.coalesce(
        (F.col(content_col) if isinstance(content_col, str) else content_col)
        .cast("string"),
        F.lit(""),
    )
    if hash_fn == "md5":
        row_hash = F.conv(
            F.substring(
                F.md5(F.concat(idc.cast("string"), F.lit("#"), content)),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
    else:
        row_hash = F.xxhash64(idc, content, F.lit(seed))
    length = (
        F.coalesce(F.col(length_col), F.lit(0)).cast("long")
        if length_col
        else F.length(content).cast("long")
    )
    return (
        sharded.select(
            "shard", row_hash.alias("_h"), length.alias("_len")
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_len").cast("long").alias("sum_length"),
            F.bit_xor("_h").alias("checksum"),
        )
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    num_shards: int = 16,
    id_col: str = "doc_id",
    content_col: str = "text",
    length_col: str | None = None,
    hash_fn: str = "xxhash64",
    seed: int = 0,
) -> DataFrame:
    """Write the frame as ``path/shard=N/*.parquet`` with deterministic
    shard membership and return the shard manifest (computed from the
    SAME assignments) for the loader to verify against.

    The write repartitions BY the shard column first, so each shard
    directory is produced by one task group (no tiny-file explosion
    from every input partition writing every shard); at 100 TB raise
    ``num_shards`` so a shard fits a loader's appetite — membership is
    per-row hashed, so shard sizes stay balanced regardless of input
    skew or append order.
    """
    sharded = assign_shards(df, num_shards, id_col, hash_fn, seed)
    sharded.repartition(F.col("shard")).write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(path)
    return shard_manifest(
        df, num_shards, id_col, content_col, length_col, hash_fn, seed
    )


def sample_rate_audit(
    df_orig: DataFrame,
    df_sampled: DataFrame,
    rates,
    group_col: str = "source",
    max_z: float = 4.0,
    default_rate: float = 1.0,
) -> DataFrame:
    """Did the sampling stage actually deliver its requested rates?
    Per group: original count, sampled count, achieved vs requested
    rate, the exact binomial z-score of the deviation, and a verdict —
    the post-hoc VALIDATION of any sampler (this engine's hash
    samplers are deterministic, but upstream/external samplers are
    not, and a mixture that silently under-delivers one source skews
    the trained model's diet).

    ``rates``: {group: p} requested inclusion probabilities; groups
    absent from ``rates`` are audited against ``default_rate``
    (default 1.0: nothing should have been dropped — pass the
    sampler's own default rate to mirror its semantics exactly).
    Groups that appear ONLY in the sampled frame are emitted with kind
    'unexpected' (a sampler must never invent rows).
    z = (k - p*n) / sqrt(p*(1-p)*n) — NULL when p is 0/1 or n = 0 (no
    variance); the DEGENERATE rates are checked exactly instead: p=1
    fails unless every row survived, p=0 fails if anything did (a
    z-of-NULL must never read as a pass — the audit's whole point).
    Verdict 'fail' when |z| exceeds ``max_z`` or an exact check
    breaks.

    Scale shape: one map-side-combinable count per frame, a
    |groups|-row outer join, map arithmetic. Nothing corpus-sized
    crosses the wire.
    """
    if max_z <= 0:
        raise ValueError("max_z must be positive, got %r" % (max_z,))
    for g, p in dict(rates).items():
        if not (0.0 <= float(p) <= 1.0):
            raise ValueError("rate for %r must be in [0, 1], got %r" % (g, p))
    if not (0.0 <= float(default_rate) <= 1.0):
        raise ValueError(
            "rate for default must be in [0, 1], got %r" % (default_rate,)
        )
    key = lambda df: F.coalesce(  # noqa: E731
        F.col(group_col).cast("string"), F.lit("__null__")
    ).alias("group")
    orig = df_orig.groupBy(key(df_orig)).agg(F.count(F.lit(1)).alias("n_orig"))
    samp = df_sampled.groupBy(key(df_sampled)).agg(
        F.count(F.lit(1)).alias("n_sampled")
    )
    joined = orig.join(samp, "group", "full_outer").select(
        "group",
        F.coalesce(F.col("n_orig"), F.lit(0)).alias("n_orig"),
        F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
    )
    p_req = F.lit(float(default_rate))
    for g, p in dict(rates).items():
        p_req = F.when(F.col("group") == str(g), F.lit(float(p))).otherwise(
            p_req
        )
    n = F.col("n_orig").cast("double")
    k = F.col("n_sampled").cast("double")
    var = p_req * (F.lit(1.0) - p_req) * n
    z = F.when(var > 0, (k - p_req * n) / F.sqrt(var))
    unexpected = F.col("n_orig") == 0
    degenerate_fail = (
        (p_req == F.lit(1.0)) & (F.col("n_sampled") != F.col("n_orig"))
    ) | ((p_req == F.lit(0.0)) & (F.col("n_sampled") > 0))
    return joined.select(
        "group",
        "n_orig",
        "n_sampled",
        F.round(p_req, 6).alias("requested_rate"),
        F.round(
            F.when(F.col("n_orig") > 0, k / n), 6
        ).alias("achieved_rate"),
        F.round(z, 4).alias("z"),
        F.when(unexpected, F.lit("unexpected"))
        .when(degenerate_fail, F.lit("fail"))
        .when(F.abs(F.coalesce(z, F.lit(0.0))) > F.lit(float(max_z)), "fail")
        .otherwise("pass")
        .alias("status"),
    )


def inspection_sample(
    df: DataFrame,
    k: int = 10,
    group_col: str = "source",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    seed: int = 0,
) -> DataFrame:
    """Deterministic k-per-group eyeball sample: the k rows with the
    smallest salted id-hash in each group — what "show me 10 docs from
    each source" should return on EVERY run, engine, and partitioning
    (df.sample re-deals per partition layout, LIMIT returns whatever
    arrives first). Because membership is min-k over a fixed hash, the
    sample is also STABLE under appends: a new row only displaces the
    current max, so reviewers diff mostly-identical samples between
    snapshots.

    The hash input carries an ``'inspect'`` domain tag (the
    mixture_sample/hash_split discipline), so inspection never
    correlates with sampling or split membership. Ties (hash
    collisions) break by id for full determinism. Rows keep every
    input column, plus ``rank`` (1..k by hash order).

    Scale shape: the rank window is executed as a WindowGroupLimit —
    each partition keeps only its local top-k before the group
    exchange, so the shuffle carries ~k rows per (partition, group),
    never the corpus (plan-pinned). ``hash_fn='md5'`` is the
    cross-engine oracle variant.
    """
    if k < 1:
        raise ValueError("inspection_sample: k must be >= 1")
    if "rank" in df.columns:
        # withColumn would silently REPLACE the caller's column — the
        # quiet kind of data loss; the caller renames theirs first
        raise ValueError(
            "inspection_sample: input already has a 'rank' column — "
            "rename it before sampling"
        )
    u = _uniform01(F.col(id_col), F.lit("inspect"), hash_fn, seed)
    w = Window.partitionBy(group_col).orderBy(
        u.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def split_balance_audit(
    df: DataFrame,
    weights: dict,
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    seed: int = 0,
    group_col: str | None = None,
) -> DataFrame:
    """Did the deterministic split actually land the advertised
    proportions — overall and inside every group?  :func:`hash_split`
    guarantees per-row stability, not per-stratum balance: a correlated
    id space (ids clustered by source, re-used prefixes) can starve one
    source's validation slice while the GLOBAL ratio still looks right.
    Per (split[, group]): row count, expected share (normalized
    weights), observed share, and the exact binomial z-score
    ``(n_split − n·p) / sqrt(n·p·(1−p))`` — |z| > ~4 on a large group
    is a hash-correlation or weight bug, not luck.

    Cross-engine determinism: counts are exact BIGINTs; p is the
    driver-computed normalized weight embedded as a literal; the share
    and z are fixed IEEE op sequences mirrored in the oracle SQL
    (md5 ``hash_fn`` for the DuckDB twin, exactly like hash_split).

    Scale shape: the split assignment stays MAP-ONLY (hash_split's
    when-chain); the audit is ONE map-side-combinable
    ``groupBy(split[, group])`` plus per-group totals via a second
    aggregate on the already-tiny |splits|×|groups| frame — no window
    over data rows, no Python.
    """
    split = hash_split(df, weights, id_col, hash_fn, seed)
    tot = sum(float(v) for v in weights.values())
    p_map = {n: float(v) / tot for n, v in weights.items()}
    keys = ["split"] + (["group"] if group_col else [])
    if group_col:
        split = split.withColumn(
            "group",
            F.coalesce(F.col(group_col).cast("string"), F.lit("__null__")),
        )
    per = split.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_split")
    )
    gtot = per.groupBy(*(keys[1:] or [F.lit(1).alias("_one")])).agg(
        F.sum("n_split").cast("long").alias("n_total")
    )
    joined = (
        per.join(F.broadcast(gtot), keys[1:], "inner")
        if group_col
        else per.crossJoin(F.broadcast(gtot.drop("_one")))
    )
    p = F.lit(0.0)
    for name, prob in p_map.items():
        p = F.when(F.col("split") == name, F.lit(prob)).otherwise(p)
    nd = F.col("n_total").cast("double")
    mean = nd * p
    sd = F.sqrt(mean * (F.lit(1.0) - p))
    return joined.select(
        *keys,
        "n_split",
        "n_total",
        F.round(p, 6).alias("expected_share"),
        F.round(F.col("n_split").cast("double") / nd, 6).alias(
            "observed_share"
        ),
        F.round(
            F.when(sd > 0, (F.col("n_split").cast("double") - mean) / sd),
            4,
        ).alias("z"),
    )


def epoch_mixture_plan(
    df: DataFrame,
    targets: dict,
    max_epochs: float = 4.0,
    length_col: str = "n_tok",
    source_col: str = "source",
) -> DataFrame:
    """Data-constrained mixture planning: :func:`mixture_plan` rates
    decomposed into training EPOCHS with a repeat ceiling — the
    data-constrained-scaling discipline (repeating a source beyond a
    few epochs stops buying loss, so cap it and surface the shortfall
    instead of silently over-repeating).  Per source present in the
    corpus: the uncapped rate, the planned rate min(rate, max_epochs),
    its decomposition into ``epochs_full`` + ``frac_rate``, the planned
    token count, unique vs repeated token split, and the
    ``shortfall_tokens`` a capped source cannot deliver — the number to
    renegotiate across the rest of the mixture.

    Cross-engine determinism: available/target tokens are exact
    BIGINTs; every derived column is a fixed sequence of IEEE ops on
    them (one division for the rate, floor for epochs) mirrored
    verbatim in the oracle SQL, rounded once.

    Scale shape: identical to mixture_plan — ONE map-side-combinable
    groupBy over the scan plus a |sources|-row broadcast join; the
    epoch arithmetic runs on the |sources|-row result.
    """
    if max_epochs <= 0:
        raise ValueError(
            "epoch_mixture_plan: max_epochs must be > 0, got %r"
            % (max_epochs,)
        )
    base = mixture_plan(df, targets, length_col, source_col)
    rate = F.col("rate")
    planned_rate = F.least(rate, F.lit(float(max_epochs)))
    avail_d = F.col("available_tokens").cast("double")
    planned = planned_rate * avail_d
    unique = F.least(planned_rate, F.lit(1.0)) * avail_d
    return base.select(
        "source",
        "n_docs",
        "available_tokens",
        "target_tokens",
        "rate",
        (rate > F.lit(float(max_epochs))).alias("capped"),
        F.round(planned_rate, 6).alias("planned_rate"),
        F.floor(planned_rate).cast("long").alias("epochs_full"),
        F.round(planned_rate - F.floor(planned_rate), 6).alias("frac_rate"),
        F.round(planned, 2).alias("planned_tokens"),
        F.round(unique, 2).alias("unique_tokens"),
        F.round(planned - unique, 2).alias("repeated_tokens"),
        F.round(
            F.greatest(
                F.col("target_tokens").cast("double") - planned, F.lit(0.0)
            ),
            2,
        ).alias("shortfall_tokens"),
    )


def ess_audit(
    df: DataFrame,
    weight_col: str,
    group_col: str = "source",
    scale_bits: int = 20,
) -> DataFrame:
    """Effective-sample-size audit of an importance-weighted corpus:
    ESS = (Σw)²/Σw² per group — the number of EQUAL-weight rows the
    weighted set is actually worth.  A DSIR or mixture re-weighting
    that looks like 10^9 documents but has ESS/n = 0.01 is training on
    ~10^7 effective docs wearing a billion-row cost; this is the gate
    that catches weight collapse before a run is launched.

    Weights enter as fixed-point integers ``floor(w·2^scale_bits)``
    (ESS is scale-invariant, so the scaling cancels exactly): both sums
    are EXACT — Σw in DECIMAL(38,0) (10^12 rows × large weights passes
    2^63), Σw² likewise — and the one double division sequence at the
    end is mirrored verbatim in the oracle SQL.  Sub-2^-scale_bits
    weight resolution is quantized away on both engines identically.
    Null weights are dropped; negative weights are counted out loud
    (``n_negative``) and excluded — a negative importance weight is a
    pipeline bug, not a sample.  Domain: w < ~2^(63−scale_bits) (~10^12
    at the default) — beyond that ``floor`` overflows the engine's
    bigint and the row nulls out; importance weights that large mean
    the mixture solver upstream already failed.

    Scale shape: ONE map-side-combinable ``groupBy(group)`` over the
    scan.  No window, no Python, |groups| output rows.
    """
    if scale_bits < 1 or scale_bits > 30:
        raise ValueError("ess_audit: scale_bits must be in [1, 30]")
    w = F.col(weight_col).cast("double")
    wi = F.floor(w * F.lit(float(1 << scale_bits))).cast("decimal(38,0)")
    g = F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
    per = (
        df.where(w.isNotNull())
        .select(
            g.alias("group"),
            F.when(w >= 0, wi).alias("_wi"),
            F.when(w < 0, 1).otherwise(0).alias("_neg"),
        )
        .groupBy("group")
        .agg(
            F.count("_wi").cast("long").alias("n"),
            F.sum("_neg").cast("long").alias("n_negative"),
            F.sum("_wi").alias("_sw"),
            F.sum(F.col("_wi") * F.col("_wi")).alias("_sw2"),
        )
    )
    swd = F.col("_sw").cast("double")
    sw2d = F.col("_sw2").cast("double")
    ess = swd * swd / sw2d
    return per.select(
        "group",
        "n",
        "n_negative",
        F.round(F.when(sw2d > 0, ess), 2).alias("ess"),
        F.round(
            F.when(
                (sw2d > 0) & (F.col("n") > 0),
                ess / F.col("n").cast("double"),
            ),
            6,
        ).alias("ess_ratio"),
    )
