"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exactness baseline (all-pairs dot
products — fine for query batches, O(Q x N)); the scale path is IVF-style
bucketing: assign every vector to its nearest of C centroids (one pass),
then search only the probe buckets (candidate set ~ N/C * nprobe). LSH
(random-hyperplane) bucketing is provided as the alternative scale path.

All arithmetic is native Column expressions (zip_with / aggregate in
codegen, cast to double for stable accumulation); no Python UDFs.
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def as_double(vec):
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a, b):
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col="vec_id",
    vec_col="embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    Query side is broadcast (query batches are small); the corpus scan is
    embarrassingly parallel — no shuffle until the per-query top-k, which
    Spark executes as partial top-k per partition (window + row_number
    under AQE)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("nv")
    )
    pairs = v.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv"), F.col("nv")).alias("cosine"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank")
    )


def lsh_recall(threshold: float, bands: int, rows_per_band: int) -> float:
    """Worst-case pair recall of banded hyperplane LSH at ``threshold``.

    Per-plane collision probability for a pair at exactly the threshold
    angle is p = 1 - acos(threshold)/π; the OR-of-ANDs construction then
    finds the pair with probability 1 - (1 - p^rows_per_band)^bands.
    Pairs *above* the threshold collide more often, so this is a lower
    bound on the realized recall."""
    t = max(-1.0, min(1.0, float(threshold)))
    p = 1.0 - math.acos(t) / math.pi
    return 1.0 - (1.0 - p ** rows_per_band) ** bands


IVF_LITERAL_MAX_ELEMS = 100_000


def _auto_bands(threshold: float, rows_per_band: int, target_recall: float,
                max_bands: int = 64) -> int:
    """Smallest band count whose worst-case recall meets ``target_recall``
    at ``threshold`` (capped at ``max_bands`` — the cap is the point where
    candidate-generation cost stops being worth the marginal recall)."""
    t = max(-1.0, min(1.0, float(threshold)))
    p = 1.0 - math.acos(t) / math.pi
    pr = p ** rows_per_band
    if pr >= 1.0:
        return 1
    # recall of exactly 1.0 is unreachable for pr<1 (log1p(-1) = -inf);
    # the caller asking for exhaustive recall gets the cap plus the
    # under-target warning downstream, not a domain-error crash
    if pr <= 0.0 or target_recall >= 1.0:
        return max_bands
    need = math.ceil(math.log1p(-target_recall) / math.log1p(-pr))
    return max(1, min(max_bands, int(need)))


def threshold_pairs(
    vectors: DataFrame,
    id_col="vec_id",
    vec_col="embedding",
    threshold: float = 0.8,
    max_ids: int | None = None,
    exact: bool = False,
    bands: int | None = None,
    rows_per_band: int = 2,
    target_recall: float = 0.999,
    seed: int = 42,
) -> DataFrame:
    """Pairs with cosine >= threshold (embedding-cosine near-dup).

    Default path (the 100-TB shape): banded random-hyperplane LSH
    generates candidate pairs via an equi-join on (band, key), then the
    exact cosine verifies candidates only — no cross join in the plan.
    This path is APPROXIMATE: with ``bands=None`` the band count is
    derived from the *caller's* threshold so the worst-case recall
    (``lsh_recall``) meets ``target_recall`` — e.g. 7 bands at
    threshold 0.8, 15 at 0.35 — instead of a fixed 8x2 whose recall
    silently degrades at low thresholds. Passing ``bands`` explicitly
    overrides the derivation; if the resulting recall is below
    ``target_recall`` a warning states the achieved bound.

    ``exact=True`` is the all-pairs O(N²) escape hatch: the exactness
    baseline for oracle comparison and small batches only.
    """
    v = vectors.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    if max_ids is not None:
        v = v.filter(F.col("id") < max_ids)
    if not exact:
        if bands is None:
            bands = _auto_bands(threshold, rows_per_band, target_recall)
        achieved = lsh_recall(threshold, bands, rows_per_band)
        if achieved < target_recall:
            warnings.warn(
                "threshold_pairs LSH recall bound at threshold={0} with "
                "{1}x{2} banding is {3:.4f} (< target {4}); pass exact=True "
                "or raise bands for exhaustive pairs".format(
                    threshold, bands, rows_per_band, achieved, target_recall
                ),
                stacklevel=2,
            )
    if exact:
        a, b = v.alias("a"), v.alias("b")
        pairs = a.crossJoin(b).filter(F.col("a.id") < F.col("b.id"))
    else:
        bk = _band_buckets(v, "id", "v", bands, rows_per_band, seed)
        a_k, b_k = bk.alias("ak"), bk.alias("bk")
        cand = (
            a_k.join(b_k, on=["band", "key"])
            .filter(F.col("ak.id") < F.col("bk.id"))
            .select(F.col("ak.id").alias("_ia"), F.col("bk.id").alias("_ib"))
            .distinct()
        )
        va = v.select(F.col("id").alias("_ia"), F.col("v").alias("_va"))
        vb = v.select(F.col("id").alias("_ib"), F.col("v").alias("_vb"))
        pairs = (
            cand.join(va, "_ia")
            .join(vb, "_ib")
            .select(
                F.struct(F.col("_ia").alias("id"), F.col("_va").alias("v")).alias("a"),
                F.struct(F.col("_ib").alias("id"), F.col("_vb").alias("v")).alias("b"),
            )
        )
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine(F.col("a.v"), F.col("b.v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


def _centroids_from_sample(vectors, vec_col, n_centroids, id_col,
                           hash_fn="xxhash64"):
    """Deterministic hash-stratified centroid pick: stratum =
    pmod(hash(id), C); within each stratum keep the row minimizing a
    salted hash of the id. Seed-stable at any parallelism (unlike
    monotonically_increasing_id) and spread across the id space (unlike
    first-C-by-id, which collapses all centroids into one region when ids
    are insertion-ordered and the data is clustered).

    ``hash_fn='md5'`` swaps xxhash64 for md5-derived keys (stratum from
    the last two hex digits, within-stratum order lexicographic on a
    salted md5 hex string) — same statistical behavior, but every step
    is reproducible in ANSI SQL for the cross-engine oracle.

    The within-stratum argmin is ``min_by`` over a (order_key, id)
    struct, not a window: partial aggregation collapses every map task
    to ≤C rows before the exchange, so the shuffle moves O(C x tasks)
    rows — a window partitionBy(centroid_id) would funnel all N rows
    through C reducers. Result is identical (struct ordering ==
    lexicographic orderBy; id uniqueness breaks all ties)."""
    v = vectors.select(
        F.col(id_col).alias("_src_id"), as_double(F.col(vec_col)).alias("cv")
    )
    if hash_fn == "md5":
        h = F.md5(F.col("_src_id").cast("string"))
        v = v.withColumn(
            "centroid_id",
            F.pmod(
                F.conv(F.substring(h, 31, 2), 16, 10).cast("int"),
                F.lit(n_centroids),
            ),
        )
        order_key = F.md5(
            F.concat(F.col("_src_id").cast("string"), F.lit("#7"))
        )
    else:
        v = v.withColumn(
            "centroid_id", F.pmod(F.xxhash64(F.col("_src_id")), F.lit(n_centroids))
        )
        order_key = F.xxhash64(F.col("_src_id"), F.lit(7))
    pick = F.struct(order_key.alias("k1"), F.col("_src_id").alias("k2"))
    return v.groupBy("centroid_id").agg(F.min_by(F.col("cv"), pick).alias("cv"))


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col="vec_id",
    vec_col="embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid — MAP-ONLY.

    The centroid table is tiny (C rows) and driver-known, so it is
    collected once and inlined as a literal array<struct>; the per-row
    argmax is a single transform+aggregate expression over that array.
    The previous shape (crossJoin(broadcast) -> window partitionBy(id)
    -> row_number=1) blew each row up C× and hash-exchanged on the full
    id space — at 10^12 rows that exchange dominates the job. This plan
    has ZERO Exchange between the scan and the assignment (pinned in
    tests/test_plans.py).

    Assignments are bit-for-bit unchanged vs the window form: centroid
    norms are pre-folded left-to-right in IEEE doubles exactly as the
    JVM aggregate would, the array is ordered by centroid_id with a
    strict ``>`` comparison (ties keep the smaller id, matching orderBy
    (sim desc, centroid_id)), and a non-null sim beats a null one
    (matching desc nulls-last)."""
    v = vectors.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    rows = sorted(
        centroids.select("centroid_id", "cv").collect(),
        key=lambda r: r["centroid_id"],
    )
    if not rows:
        return v.select(
            "id", "v", F.lit(None).cast("int").alias("centroid_id")
        ).where(F.lit(False))

    def _norm(xs):
        # a null vector / null element means the centroid can never win
        # (its sim is null, and the argmax prefers any non-null sim) —
        # mirror that instead of crashing float(None) at plan build
        if xs is None:
            return None
        acc = 0.0
        for x in xs:
            if x is None:
                return None
            acc += float(x) * float(x)
        return math.sqrt(acc)

    def _cv_lit(xs):
        if xs is None:
            return F.lit(None).cast("array<double>")
        return F.array(
            *[
                F.lit(None).cast("double") if x is None else F.lit(float(x))
                for x in xs
            ]
        )

    # Two same-semantics carriers for the centroid array, picked by
    # size. Small C*D: inline literal expressions — zero extra plan
    # nodes at runtime, zero joins. Large C*D (e.g. C=4096, D=512):
    # per-element F.lit would build millions of expression nodes —
    # minutes of driver-side analysis and a plan shipped per task — so
    # the centroids are collapsed to ONE row holding the sorted
    # array<struct> and attached via crossJoin(broadcast): a
    # BroadcastNestedLoopJoin against a single row is map-only (no
    # shuffle of the vector side; the array ships once per executor).
    n_elems = sum(len(r["cv"] or ()) for r in rows)
    if n_elems <= IVF_LITERAL_MAX_ELEMS:
        cent_arr = F.array(
            *[
                F.struct(
                    F.lit(int(r["centroid_id"])).alias("cid"),
                    _cv_lit(r["cv"]).alias("cv"),
                    F.lit(_norm(r["cv"])).cast("double").alias("cn"),
                )
                for r in rows
            ]
        )
    else:
        spark = vectors.sparkSession
        one = spark.createDataFrame(
            [
                (
                    [
                        (int(r["centroid_id"]),
                         None if r["cv"] is None
                         else [None if x is None else float(x)
                               for x in r["cv"]],
                         _norm(r["cv"]))
                        for r in rows
                    ],
                )
            ],
            "_carr array<struct<cid:int,cv:array<double>,cn:double>>",
        )
        v = v.crossJoin(F.broadcast(one))
        cent_arr = F.col("_carr")
    # the row norm is a per-row constant: evaluate it ONCE in a projected
    # column rather than inside the per-centroid lambda (higher-order
    # lambdas get no common-subexpression elimination, so the inline form
    # recomputes this O(D) aggregate C times per row)
    v = v.withColumn("_vn", l2_norm(F.col("v")))
    vn = F.col("_vn")
    sims = F.transform(
        cent_arr,
        lambda c: F.struct(
            c["cid"].alias("cid"),
            (dot(F.col("v"), c["cv"]) / (vn * c["cn"])).alias("sim"),
        ),
    )
    init = F.struct(
        F.lit(None).cast("int").alias("cid"),
        F.lit(None).cast("double").alias("sim"),
    )
    best = F.aggregate(
        sims,
        init,
        lambda acc, s: F.when(
            acc["cid"].isNull()
            | (acc["sim"].isNull() & s["sim"].isNotNull())
            | (s["sim"] > acc["sim"]),
            s,
        ).otherwise(acc),
    )
    return v.select("id", "v", best["cid"].alias("centroid_id"))


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col="vec_id",
    vec_col="embedding",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroid_hash: str = "xxhash64",
) -> DataFrame:
    """IVF approximate top-k: search only the nprobe nearest buckets.

    At 100 TB the assignment table is written bucketed by centroid_id so
    query-time probes prune partitions; here both passes are computed
    inline. Recall is tested against brute force in tests/test_pipeline.py.
    ``centroid_hash='md5'`` selects the SQL-reproducible centroid pick
    (see _centroids_from_sample) for the cross-engine oracle query.
    """
    cents = _centroids_from_sample(
        vectors, vec_col, n_centroids, id_col, hash_fn=centroid_hash
    )
    cents = cents.persist()
    assigned = ivf_assign(vectors, cents, id_col, vec_col)

    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    qc = q.crossJoin(F.broadcast(cents)).select(
        "query_id", "qv", "centroid_id", cosine(F.col("qv"), F.col("cv")).alias("sim")
    )
    from pyspark.sql.window import Window

    wq = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("centroid_id"))
    probes = (
        qc.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "qv", "centroid_id")
    )

    cand = probes.join(assigned, "centroid_id").filter(
        F.col("query_id") != F.col("id")
    )
    scored = cand.select(
        "query_id", F.col("id").alias("neighbor_id"),
        cosine(F.col("qv"), F.col("v")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank")
    )


def _euclid_assign(v: DataFrame, centroid_map: dict) -> DataFrame:
    """Map-only nearest-centroid assignment under squared Euclidean
    distance: same literal / one-row-broadcast carrier discipline as
    ivf_assign (zero Exchange between scan and assignment). Ties keep
    the smaller centroid id (strict ``<``); a null distance (null or
    length-mismatched vector) loses to any non-null one.

    Returns (id, v, cluster, sq_dist)."""
    items = sorted(centroid_map.items())
    if not items:
        return v.select(
            "id", "v",
            F.lit(None).cast("int").alias("cluster"),
            F.lit(None).cast("double").alias("sq_dist"),
        )
    base = v
    n_elems = sum(len(cv) for _, cv in items)
    if n_elems <= IVF_LITERAL_MAX_ELEMS:
        cent_arr = F.array(
            *[
                F.struct(
                    F.lit(int(cid)).cast("int").alias("cid"),
                    F.array(*[F.lit(float(x)) for x in cv]).alias("cv"),
                )
                for cid, cv in items
            ]
        )
    else:
        spark = v.sparkSession
        one = spark.createDataFrame(
            [([(int(cid), [float(x) for x in cv]) for cid, cv in items],)],
            "_carr array<struct<cid:int,cv:array<double>>>",
        )
        base = base.crossJoin(F.broadcast(one))
        cent_arr = F.col("_carr")
    dists = F.transform(
        cent_arr,
        lambda c: F.struct(
            c["cid"].alias("cid"),
            F.aggregate(
                F.zip_with(
                    F.col("v"), c["cv"], lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda a, t: a + t,
            ).alias("d"),
        ),
    )
    init = F.struct(
        F.lit(None).cast("int").alias("cid"),
        F.lit(None).cast("double").alias("d"),
    )
    best = F.aggregate(
        dists,
        init,
        lambda acc, c: F.when(
            acc["cid"].isNull()
            | (acc["d"].isNull() & c["d"].isNotNull())
            | (c["d"] < acc["d"]),
            c,
        ).otherwise(acc),
    )
    return base.select(
        "id", "v",
        best["cid"].alias("cluster"),
        best["d"].alias("sq_dist"),
    )


def kmeans_assign(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_fn: str = "xxhash64",
    scale_bits: int = 20,
    dim: int | None = None,
) -> DataFrame:
    """Lloyd k-means over an embedding column — the semantic-clustering
    primitive (cluster-balanced mixture sampling, per-cluster dedup,
    topic pruning). Returns the final assignment
    (id_col, cluster, sq_dist) after ``iters`` assign→update rounds
    from the deterministic hash-stratified init
    (:func:`_centroids_from_sample`; ``hash_fn='md5'`` for the
    SQL-reproducible variant).

    Determinism at any parallelism is the point: centroid UPDATES sum
    FIXED-POINT per-dimension values (``floor(x * 2^scale_bits)`` as
    bigint), so the per-cluster mean is an associative integer sum —
    map-side combinable in any order AND bit-identical to a
    single-threaded oracle. Summing raw doubles would tie the centroids
    (and every subsequent assignment) to Spark's reduction order.
    Quantization moves each centroid coordinate < 2^-scale_bits — far
    below any clustering-relevant distance. Overflow bound: rows per
    cluster x 2^(scale_bits + log2 max|x|) must stay under 2^63 (~4e12
    unit-scale rows at the default 20 bits; lower scale_bits for more).

    Scale shape: per iteration ONE exchange of k groups (the
    dim-indexed sums partially aggregate map-side) plus a MAP-ONLY
    assignment pass (literal/broadcast centroid carrier, zero Exchange
    — same pinned shape as ivf_assign). Centroids live on the driver
    between iterations (k x dim doubles). Null vectors, vectors with
    null elements, and length-mismatched vectors are dropped up front.
    Pass ``dim`` when the embedding width is known (a schema fact in
    any real table) to skip the inference pass; when omitted, it is the
    MAJORITY length — deterministic at any partition order (unlike
    first-row sniffing) at the cost of one extra aggregation over the
    input.
    """
    if iters < 1:
        raise ValueError("kmeans_assign: iters must be >= 1")
    v = vectors.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    ).where(
        F.col("v").isNotNull()
        & ~F.exists(F.col("v"), lambda x: x.isNull())
    )
    if dim is None:
        dim_row = (
            v.groupBy(F.size("v").alias("d"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("d").asc())
            .first()
        )
        if dim_row is None:
            # no clusterable vectors: empty frame, same dropped-rows
            # contract as the main path
            return v.select(
                F.col("id").alias(id_col),
                F.lit(None).cast("int").alias("cluster"),
                F.lit(None).cast("double").alias("sq_dist"),
            ).where(F.lit(False))
        dim = int(dim_row["d"])
    v = v.where(F.size("v") == dim)
    s = float(1 << scale_bits)
    cents = _centroids_from_sample(v, "v", k, "id", hash_fn=hash_fn)
    centroid_map = {
        int(r["centroid_id"]): [float(x) for x in r["cv"]]
        for r in cents.collect()
        if r["cv"] is not None
    }
    assigned = None
    for it in range(iters):
        assigned = _euclid_assign(v, centroid_map)
        if it == iters - 1:
            break
        sums = [
            F.sum(
                F.floor(F.element_at(F.col("v"), j + 1) * F.lit(s))
            ).alias("s{0}".format(j))
            for j in range(dim)
        ]
        agg = assigned.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n"), *sums
        ).collect()
        for r in agg:
            if r["cluster"] is None:
                continue
            n = int(r["n"])
            # (int->double exact) / n / 2^bits: plain IEEE division in
            # the driver — identical in any engine
            centroid_map[int(r["cluster"])] = [
                (float(r["s{0}".format(j)]) / n) / s for j in range(dim)
            ]
    return assigned.select(
        F.col("id").alias(id_col),
        "cluster",
        F.round("sq_dist", 4).alias("sq_dist"),
    )


def _group_fixed_sums(vectors, vec_col, group_col, dim, scale_bits):
    """Shared prep for the centroid-based drift lenses: per-group
    (count + per-dimension fixed-point bigint sums), ONE map-side-
    combinable groupBy carrying |groups| rows. Returns (rows, dim);
    dim is inferred as the modal vector length when not given (None
    when the frame is empty). Null groups coalesce to '__null__';
    null vectors, null elements and off-dimension vectors drop."""
    v = vectors.select(
        F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
        .alias("g"),
        as_double(F.col(vec_col)).alias("v"),
    ).where(
        F.col("v").isNotNull()
        & ~F.exists(F.col("v"), lambda x: x.isNull())
    )
    if dim is None:
        dim_row = (
            v.groupBy(F.size("v").alias("d"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("d").asc())
            .first()
        )
        if dim_row is None:
            return [], None
        dim = int(dim_row["d"])
    v = v.where(F.size("v") == dim)
    s = float(1 << scale_bits)
    sums = [
        F.sum(F.floor(F.element_at(F.col("v"), j + 1) * F.lit(s)))
        .alias("s{0}".format(j))
        for j in range(dim)
    ]
    rows = v.groupBy("g").agg(F.count(F.lit(1)).alias("n"), *sums).collect()
    return rows, dim


def embedding_group_drift(
    vectors: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    dim: int | None = None,
    scale_bits: int = 20,
) -> DataFrame:
    """Embedding-space drift: each group's MEAN embedding displacement
    from the corpus mean — the semantic twin of the scalar histogram
    drift family (a source whose centroid wanders is changing content
    even when every scalar stat looks stable).

    Returns (group, n_vecs, l2_dist, cos_sim) where l2_dist/cos_sim
    compare the group mean against the all-rows mean. Same fixed-point
    discipline as :func:`kmeans_assign`: per-dimension sums are
    ``floor(x * 2^scale_bits)`` bigints, so the means (and the corpus
    mean, the exact integer sum of the group sums) are parallelism-
    invariant and reproduced bit-for-bit by a SQL oracle; the final
    distance arithmetic runs on those exact doubles in dimension order.

    Scale shape: ONE map-side-combinable groupBy(group) carrying
    (count + dim bigint sums) per group — a single exchange of
    |groups| rows; everything after runs on the driver over the tiny
    collected matrix. Null groups coalesce to '__null__'; null vectors,
    null elements and off-dimension vectors are dropped like kmeans.
    """
    rows, dim = _group_fixed_sums(
        vectors, vec_col, group_col, dim, scale_bits
    )
    spark = vectors.sparkSession
    if dim is None or not rows:
        return spark.createDataFrame(
            [], "group string, n_vecs long, l2_dist double, cos_sim double"
        )
    s = float(1 << scale_bits)
    total_n = sum(int(r["n"]) for r in rows)
    # corpus mean from the EXACT integer total of the group sums
    tot = [
        sum(int(r["s{0}".format(j)]) for r in rows) for j in range(dim)
    ]
    cm = [(float(t) / total_n) / s for t in tot]
    out = []
    for r in sorted(rows, key=lambda r: r["g"]):
        n = int(r["n"])
        gm = [(float(r["s{0}".format(j)]) / n) / s for j in range(dim)]
        # dimension-order left folds: a SQL oracle reproduces these
        # with SUM(term ORDER BY j)
        d2 = 0.0
        dot_ = 0.0
        gn = 0.0
        cn = 0.0
        for j in range(dim):
            diff = gm[j] - cm[j]
            d2 += diff * diff
            dot_ += gm[j] * cm[j]
            gn += gm[j] * gm[j]
            cn += cm[j] * cm[j]
        denom = math.sqrt(gn) * math.sqrt(cn)
        cos = dot_ / denom if denom > 0 else None
        out.append((r["g"], n, math.sqrt(d2), cos))
    res = spark.createDataFrame(
        out, "group string, n_vecs long, l2_dist double, cos_sim double"
    )
    # rounding happens in SPARK expressions so the half-up semantics
    # match every other oracle query in the repo
    return res.select(
        "group", "n_vecs",
        F.round("l2_dist", 4).alias("l2_dist"),
        F.round("cos_sim", 4).alias("cos_sim"),
    )


def _sign_bits(v, n_planes: int, seed: int):
    """Sign of <v, plane_p> for p in [0, n_planes) as '0'/'1' Columns.

    Plane components are generated JVM-side from xxhash64(seed, p, dim
    index) — dimension-agnostic (adapts to each row's vector length),
    no RNG state, reproducible at any parallelism, and JVM-side. The dot
    product is zip_with + aggregate, higher-order functions that Spark
    does not compile: the projection holding them runs outside
    whole-stage codegen, its lambdas interpreted per element."""
    idx = F.sequence(F.lit(0), F.size(v) - 1)

    def _component(p):
        # two-arg lambda required: PySpark binds Columns by arity
        def comp(x, d):
            h = F.pmod(F.xxhash64(F.lit(int(seed)), F.lit(int(p)), d), F.lit(10000))
            return x * (h / F.lit(5000.0) - F.lit(1.0))

        return comp

    bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(v, idx, _component(p)), F.lit(0.0), lambda acc, x: acc + x
        )
        bits.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
    return bits


def lsh_buckets(
    vectors: DataFrame,
    id_col="vec_id",
    vec_col="embedding",
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH signature: sign pattern against n_planes
    deterministic pseudo-random hyperplanes — (id, bucket)."""
    v = vectors.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    sig = F.concat(*_sign_bits(F.col("v"), n_planes, seed))
    return v.select("id", sig.alias("bucket"))


def _band_buckets(v: DataFrame, id_name: str, vec_name: str, bands: int,
                  rows_per_band: int, seed: int) -> DataFrame:
    """Banded LSH buckets (id, band, key): OR-construction over ``bands``
    bands, each band an AND of ``rows_per_band`` plane signs."""
    bits = _sign_bits(F.col(vec_name), bands * rows_per_band, seed)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat(*bits[b * rows_per_band : (b + 1) * rows_per_band]).alias("key"),
        )
        for b in range(bands)
    ]
    return v.select(
        F.col(id_name).alias("id"), F.explode(F.array(*band_structs)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def quantize_embeddings(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
    passthrough: tuple = (),
) -> DataFrame:
    """Symmetric per-vector linear quantization of an embedding column
    to ``bits``-bit signed integers — the memory lever that makes
    billion-vector ANN feasible (an int8 corpus is 4x smaller than
    float32, and IVF distance ranking survives it; this is the storage
    half of a classic IVF-SQ index). Returns
    (id_col, scale, qvec [, passthrough...]) where
    ``x ≈ qvec[j] * scale`` and ``scale = max|x| / (2^(bits-1) - 1)``.

    Quantization rule: ``q = floor(x * qmax / max|x| + 0.5)`` — a total,
    branch-free half-up round whose every step is plain IEEE double
    arithmetic, so an external engine (the DuckDB oracle) reproduces
    the integers bit-exactly; |q| <= qmax by construction, no clamp.
    All-zero vectors quantize to zeros with scale 0; null vectors and
    vectors containing null elements are dropped (same contract as
    kmeans_assign).

    Scale shape: MAP-ONLY — one projection, zero Exchange, no
    per-partition state (plan-pinned in
    tests/test_chunk_quantize_semdedup.py). Pairs
    with :func:`ivf_assign`: quantize once, store qvec+scale, and
    rank candidates on the dequantized dot product.
    """
    if bits < 2 or bits > 32:
        raise ValueError("quantize_embeddings: bits must be in [2, 32]")
    qmax = float((1 << (bits - 1)) - 1)
    v = as_double(F.col(vec_col))
    m = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.transform(
        v,
        lambda x: F.when(
            m > 0, F.floor(x * F.lit(qmax) / m + F.lit(0.5))
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    return vectors.where(
        F.col(vec_col).isNotNull()
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    ).select(
        id_col,
        *passthrough,
        (m / F.lit(qmax)).alias("scale"),
        q.alias("qvec"),
    )


def semantic_dup_pairs(
    vectors: DataFrame,
    tau: float = 0.95,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_fn: str = "xxhash64",
    dim: int | None = None,
    scale_bits: int = 20,
) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023, arXiv:2303.09540):
    k-means-cluster the embeddings, then compute EXACT cosine only
    WITHIN each cluster and keep pairs with cosine >= tau. The k-means
    partition is what makes semantic dedup tractable — all-pairs cosine
    is O(n²); cluster-scoped pairs are O(sum c_i²), and k is chosen so
    clusters are small (the paper uses ~0.1% of n).

    Returns (id_a, id_b, cluster, cos_sim) with id_a < id_b. Pairs that
    cross a cluster boundary are NOT examined — that is SemDeDup's
    documented recall trade, not a defect; raise ``iters``/lower ``k``
    to coarsen clusters when recall matters more than cost.

    Scale shape: :func:`kmeans_assign` is map-only per iteration plus
    one k-row exchange; the pair join is a single self-join keyed on
    ``cluster`` — each cluster's pairs materialize inside one task
    group, never globally. A pathologically hot cluster is the
    escape-hatch signal to raise k (documented; the join itself spills).
    """
    assign = kmeans_assign(
        vectors, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        hash_fn=hash_fn, dim=dim, scale_bits=scale_bits,
    )
    v = vectors.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    ).where(
        F.col("v").isNotNull() & ~F.exists(F.col("v"), lambda x: x.isNull())
    )
    a = assign.select(F.col(id_col).alias("id"), "cluster").join(v, "id")
    left = a.select(
        F.col("id").alias("id_a"), F.col("v").alias("_va"), "cluster"
    )
    right = a.select(
        F.col("id").alias("id_b"), F.col("v").alias("_vb"), "cluster"
    )
    cos = cosine(F.col("_va"), F.col("_vb"))
    return (
        left.join(right, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cos >= F.lit(float(tau)))
        .select(
            "id_a", "id_b", "cluster", F.round(cos, 4).alias("cos_sim")
        )
    )


def semantic_dedup(
    vectors: DataFrame,
    tau: float = 0.95,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_fn: str = "xxhash64",
    dim: int | None = None,
    scale_bits: int = 20,
) -> DataFrame:
    """SemDeDup survivors: drop all but one representative of every
    within-cluster semantic-duplicate group (connected components over
    :func:`semantic_dup_pairs`, minimum id kept — the same
    representative rule as ``dedup.drop_near_duplicates``). Returns the
    input rows minus non-representative members.

    This is the semantic sibling of ``embedding_dedup_survivors``
    (global cosine-threshold CC): identical once pairs agree, but the
    pair graph here is cluster-scoped, so it runs at corpus scale
    where the global variant cannot.

    Scale shape: pairs as in :func:`semantic_dup_pairs`; components via
    ``dedup.dedup_clusters`` WITH pointer-jumping (a near-threshold tau
    makes within-cluster pair graphs chain-y — similarity is not
    transitive — and path-halving converges in O(log diameter) rounds
    instead of diameter); the final drop is a broadcast-scale left_anti
    join — duplicate members are a small fraction of the corpus by
    assumption.
    """
    from datatest_spark.operators.dedup import dedup_clusters

    pairs = semantic_dup_pairs(
        vectors, tau=tau, k=k, iters=iters, id_col=id_col,
        vec_col=vec_col, hash_fn=hash_fn, dim=dim, scale_bits=scale_bits,
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    clusters = dedup_clusters(pairs, pointer_jump=True)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return vectors.join(drop, id_col, "left_anti")


def semantic_contamination(
    corpus: DataFrame,
    eval_vectors: DataFrame,
    tau: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str | None = None,
    eval_vec_col: str | None = None,
) -> DataFrame:
    """Embedding-space eval-set decontamination: flag every corpus
    vector whose BEST cosine against any held-out eval vector reaches
    ``tau``. The semantic sibling of ``decontam.contamination`` (text
    shingles) and ``decontam.token_contamination`` (token n-grams) —
    paraphrased eval leakage that shares no surface n-grams still lands
    next to its eval item in embedding space, which is how modern
    pipelines audit benchmark leakage post-paraphrase.

    Returns one row per contaminated corpus vector:
    ``(id_col, eval_id, cos_sim)`` where ``eval_id`` is the
    argmax-cosine eval item (ties broken toward the smallest eval id —
    a total order, so the result is independent of evaluation order)
    and ``cos_sim`` is rounded to 4 places; the ``tau`` comparison runs
    on the UNrounded value. Vectors with null OR NaN elements on either
    side are excluded (they surface through null-rate/Invalid checks,
    not here), and so are ALL-ZERO vectors: their cosine is 0/0 = NaN,
    NaN elements propagate NaN cosines, and Spark
    orders NaN ABOVE every real number — an unguarded zero vector would
    win the argmax and "contaminate" at any tau, while a SQL oracle's
    NaN semantics differ. Excluding them pins both engines to the same
    answer; a zero embedding is an upstream-encoder defect for the
    null-rate/interval checks, not a similarity question.

    Scale shape: eval sets are small by construction (10^3..10^5 rows),
    so the whole eval side collapses into ONE carrier row
    (``collect_list`` of (id, vector) structs) that is broadcast and
    cross-joined — the corpus NEVER shuffles, and the per-doc argmax is
    an in-row ``F.aggregate`` fold over the carrier array, not a
    groupBy: zero corpus-side Exchange, embarrassingly parallel at
    10^12 rows. Per-row cost is O(|eval| * dim) multiplies inside
    whole-stage codegen — identical arithmetic to a broadcast
    nested-loop join, minus the per-doc max shuffle that a join-then-
    groupBy plan would pay. An eval side too big to broadcast is the
    documented escape hatch to :func:`semantic_dup_pairs`-style
    cluster-scoped pairing instead.
    """
    eid = eval_id_col or id_col
    evec = eval_vec_col or vec_col
    eid_type = eval_vectors.schema[eid].dataType
    def _clean(v):
        # non-null, no null elements, no NaN elements (NaN survives the
        # null and zero filters but wins every Spark comparison — one
        # NaN-bearing eval vector would flag the ENTIRE corpus), and at
        # least one nonzero element
        return (
            v.isNotNull()
            & ~F.exists(v, lambda x: x.isNull())
            & ~F.exists(v, F.isnan)
            & F.exists(v, lambda x: x != 0.0)
        )

    ev = eval_vectors.select(
        F.col(eid).alias("_eid"), as_double(F.col(evec)).alias("_ev")
    ).where(_clean(F.col("_ev")))
    # ONE carrier row (agg without groupBy yields exactly one row even
    # on empty input -> empty eval degrades to an empty result, not an
    # error); broadcast so the corpus side never moves. Each eval norm
    # is computed ONCE here, in the tiny agg, not per corpus row.
    carrier = ev.agg(
        F.collect_list(
            F.struct(
                F.col("_eid"),
                F.col("_ev"),
                l2_norm(F.col("_ev")).alias("_en"),
            )
        ).alias("_eval")
    )
    c = corpus.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    ).where(_clean(F.col("_v")))
    # corpus norm once per ROW (a named column, not an expression
    # re-expanded inside every fold step)
    joined = c.withColumn("_nc", l2_norm(F.col("_v"))).crossJoin(
        F.broadcast(carrier)
    )
    norm_c = F.col("_nc")
    zero = F.struct(
        F.lit(None).cast(eid_type).alias("eid"),
        F.lit(float("-inf")).alias("cos"),
    )

    def _fold(acc, e):
        cos_e = dot(F.col("_v"), e["_ev"]) / (norm_c * e["_en"])
        better = cos_e.isNotNull() & (
            (cos_e > acc["cos"])
            | ((cos_e == acc["cos"])
               & (acc["eid"].isNull() | (e["_eid"] < acc["eid"])))
        )
        return F.when(
            better,
            F.struct(e["_eid"].alias("eid"), cos_e.alias("cos")),
        ).otherwise(acc)

    best = F.aggregate(F.col("_eval"), zero, _fold)
    return (
        joined.select(F.col(id_col), best.alias("_best"))
        .where(F.col("_best.cos") >= F.lit(float(tau)))
        .select(
            id_col,
            F.col("_best.eid").alias("eval_id"),
            F.round(F.col("_best.cos"), 4).alias("cos_sim"),
        )
    )


def decontaminate_semantic(
    corpus: DataFrame,
    eval_vectors: DataFrame,
    tau: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str | None = None,
    eval_vec_col: str | None = None,
) -> DataFrame:
    """Survivors complement of :func:`semantic_contamination`: the
    corpus minus every vector flagged at ``tau`` — the drop-in semantic
    stage for a decontamination pipeline (same contract as
    ``decontam.decontaminate``: input rows pass through unchanged).

    Scale shape: the hits side is corpus-scale map-only (see
    :func:`semantic_contamination`); the final ``left_anti`` join keys
    on ``id_col`` — contaminated docs are a small fraction of the
    corpus by assumption, so AQE plans it as a broadcast anti-join.
    """
    hits = semantic_contamination(
        corpus, eval_vectors, tau=tau, id_col=id_col, vec_col=vec_col,
        eval_id_col=eval_id_col, eval_vec_col=eval_vec_col,
    ).select(id_col)
    return corpus.join(hits, id_col, "left_anti")


def centroid_distance_matrix(
    vectors: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    dim: int | None = None,
    scale_bits: int = 20,
) -> DataFrame:
    """Pairwise group-centroid distances in embedding space — the
    semantic twin of text.source_cross_entropy's LM matrix:
    :func:`embedding_group_drift` measures each group against the
    corpus mean, this measures every group against EVERY OTHER group,
    the map a mixture designer reads for interchangeable vs genuinely
    novel sources and a monitor diffs release-over-release.

    Returns (g_a, g_b, l2_dist, cos_sim) over all ordered group pairs
    including the diagonal (l2 0 / cos 1 by construction — a cheap
    self-test). Same fixed-point discipline as the drift lens:
    per-dimension sums are floor(x·2^scale_bits) bigints, so group
    means are parallelism-invariant, and the distance folds run in
    dimension order — a SQL oracle reproduces every double bit-for-bit
    with ``SUM(term ORDER BY j)``.

    Scale shape: ONE map-side-combinable groupBy(group) exchange of
    |groups| rows (count + dim bigint sums); the |groups|² pair
    arithmetic runs on the driver over the tiny collected matrix.
    """
    rows, dim = _group_fixed_sums(
        vectors, vec_col, group_col, dim, scale_bits
    )
    spark = vectors.sparkSession
    schema = "g_a string, g_b string, l2_dist double, cos_sim double"
    if dim is None or not rows:
        return spark.createDataFrame([], schema)
    s = float(1 << scale_bits)
    means = {}
    for r in rows:
        n = int(r["n"])
        means[r["g"]] = [
            (float(r["s{0}".format(j)]) / n) / s for j in range(dim)
        ]
    out = []
    for ga in sorted(means):
        for gb in sorted(means):
            a, b = means[ga], means[gb]
            d2 = dt = na = nb = 0.0
            for j in range(dim):
                diff = a[j] - b[j]
                d2 += diff * diff
                dt += a[j] * b[j]
                na += a[j] * a[j]
                nb += b[j] * b[j]
            denom = math.sqrt(na) * math.sqrt(nb)
            cos = dt / denom if denom > 0 else None
            out.append((ga, gb, math.sqrt(d2), cos))
    res = spark.createDataFrame(out, schema)
    return res.select(
        "g_a", "g_b",
        F.round("l2_dist", 4).alias("l2_dist"),
        F.round("cos_sim", 4).alias("cos_sim"),
    )


def ann_recall_audit(
    vectors: DataFrame,
    queries: DataFrame,
    id_col="vec_id",
    vec_col="embedding",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroid_hash: str = "xxhash64",
) -> DataFrame:
    """Recall@k of the IVF index against exact brute force — validation
    of the validator, the ANN twin of ``dedup.minhash_error_audit``:
    before trusting IVF-pruned similarity decisions (dedup survivors,
    decontamination hits) at 10^12 scale, measure how much of the TRUE
    top-k the probe-limited search actually returns, per query.

    Returns (query_id, n_true, n_hits, recall):
    ``n_true`` = |exact top-k| (may be < k on tiny corpora),
    ``n_hits`` = |exact top-k ∩ IVF top-k|, ``recall`` = hits/true
    (4-dp). Aggregate recall is mean(recall) — left to the caller so
    per-query stragglers (a query whose neighbors straddle many
    centroid cells) stay visible instead of averaging away.

    Cost model: the audit runs brute force, so it is built for a
    SAMPLED query batch (hundreds, not the corpus) — both search passes
    broadcast the query side and scan the corpus once each; the recall
    join then touches only O(|queries| * k) rows. Audit on a sample,
    deploy the IVF parameters the audit justified.
    """
    exact = brute_force_topk(vectors, queries, id_col, vec_col, k).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_topk(
        vectors, queries, id_col, vec_col, k, n_centroids, nprobe,
        centroid_hash,
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_true",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double")
                / F.col("n_true").cast("double"),
                4,
            ).alias("recall"),
        )
    )


def hubness_audit(
    vectors: DataFrame,
    id_col="vec_id",
    vec_col="embedding",
    k: int = 10,
    topk: DataFrame | None = None,
) -> DataFrame:
    """In-degree of every corpus point in the k-NN graph — the hubness
    profile of the embedding space.

    High-dimensional spaces concentrate nearest-neighbor relations onto
    a few "hub" points that appear in a disproportionate share of other
    points' top-k lists, while "antihubs" (in_degree = 0) appear in
    nobody's; a skewed in-degree distribution quietly degrades every
    consumer of the k-NN graph — semantic dedup over-merges around
    hubs, ANN recall audits look fine on average while antihub queries
    return junk, and embedding-drift monitors under-weight the points
    no neighbor list ever mentions. This audit makes the skew visible
    BEFORE those operators are trusted at scale.

    Returns one row per corpus point: (vec_id, in_degree, in_share)
    where ``in_degree`` counts the top-k lists the point appears in
    (0 for antihubs — every corpus id is present) and ``in_share`` =
    in_degree / max(Q-1, 1) with Q = number of distinct query lists
    (Q-1 because a point can appear in every list but its own) — a
    balanced space puts every share near k/(Q-1). Feed the frame to
    stats operators (mad_outliers, concentration_indices) for
    single-number alarms.

    Cost model: by default the graph comes from ``brute_force_topk``
    with the corpus as its own query batch — all-pairs, so the default
    is for AUDIT-SIZED samples (10^3-10^4 vectors), matching
    ann_recall_audit's sampling contract. At 10^12 scale pass ``topk=``
    the IVF-built graph (``ivf_topk(vectors, sample, ...)``) and only
    the in-degree count (one |sample|*k-row agg + one left join back to
    the corpus ids) runs here; the per-point self-pair exclusion is
    already brute_force_topk/ivf_topk's contract.
    """
    if topk is None:
        topk = brute_force_topk(vectors, vectors, id_col, vec_col, k)
    # lazy 1-row query count broadcast back — no driver-side action at
    # build time (the graph may be expensive; count it once, in-plan)
    nq = topk.agg(F.count_distinct(F.col("query_id")).alias("_nq"))
    ids = vectors.select(F.col(id_col).alias("vec_id"))
    deg = topk.groupBy(F.col("neighbor_id").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        ids.join(deg, "vec_id", "left")
        .crossJoin(F.broadcast(nq))
        .select(
            "vec_id",
            F.coalesce(F.col("in_degree"), F.lit(0)).cast("long").alias(
                "in_degree"
            ),
            F.round(
                F.coalesce(F.col("in_degree"), F.lit(0)).cast("double")
                / F.greatest(F.col("_nq") - 1, F.lit(1)).cast("double"),
                4,
            ).alias("in_share"),
        )
    )


def dup_embedding_consistency(
    docs: DataFrame,
    vectors: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cross-modal invariant: exact-duplicate documents must embed
    (near-)identically — measured against the group's surviving
    representative.

    Exact dedup keeps the min-id member of each identical-content
    group and lets its embedding stand in for every dropped copy
    downstream (semantic dedup, ANN, clustering). If byte-identical
    texts embed far apart, the embedding column was built by mixed
    model versions, non-deterministic pooling, or a misjoined
    pipeline — and every consumer of the representative is silently
    wrong. This audit measures exactly the substitution dedup makes:
    cosine(member, representative) per dropped member.

    ``text_col`` may be a Column expression instead of a name — pass
    ``text.normalize_text()`` (or any canonicalization) to audit
    normalization-tolerant dup groups; the group key is md5 of the
    expression, exactly like ``dedup.exact_duplicates``.

    Returns one row per duplicate group with >= 2 embedded members:
    (rep_id, n_members, mean_cos, min_cos) where ``rep_id`` is the
    min-id member carrying an embedding (the dedup survivor),
    ``n_members`` counts embedded members, and mean/min summarize
    cosine(member, rep) over the OTHER members (self-pairs excluded;
    a healthy pipeline shows mean_cos ~ 1.0). The mean is a
    fixed-point sum of floor(cos * 10^6) bigints — parallelism-
    invariant and reproduced bit-for-bit by a SQL oracle.

    Scale shape: one content-hash window picks groups and reps, one
    equi-join on the hash fans each member out to its SINGLE
    representative (|members| rows, never pairwise), one
    map-side-combinable groupBy; no driver-side collection, so
    group count is unbounded.
    """
    from pyspark.sql.window import Window

    t = F.col(text_col) if isinstance(text_col, str) else text_col
    h = docs.select(
        F.col(id_col).alias("_m_id"), F.md5(t).alias("_gh")
    ).join(
        vectors.select(
            F.col(vec_id_col).alias("_m_id"),
            as_double(F.col(vec_col)).alias("_v"),
        ),
        "_m_id",
    ).where(
        F.col("_v").isNotNull() & ~F.exists(F.col("_v"), lambda x: x.isNull())
    )
    w = Window.partitionBy("_gh")
    members = (
        h.withColumn("_n", F.count(F.lit(1)).over(w))
        .withColumn("_rep", F.min("_m_id").over(w))
        .where(F.col("_n") >= 2)
    )
    reps = members.where(F.col("_m_id") == F.col("_rep")).select(
        F.col("_gh"), F.col("_m_id").alias("rep_id"), F.col("_v").alias("_rv")
    )
    others = members.where(F.col("_m_id") != F.col("_rep")).select(
        "_gh", "_v"
    )
    scored = others.join(reps, "_gh").select(
        "rep_id", cosine(F.col("_v"), F.col("_rv")).alias("_cos")
    )
    return (
        scored.groupBy("rep_id")
        .agg(
            (F.count(F.lit(1)) + F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.floor(F.col("_cos") * F.lit(1000000.0))).alias("_fs"),
            F.min("_cos").alias("_min"),
        )
        .select(
            "rep_id",
            "n_members",
            F.round(
                F.col("_fs").cast("double")
                / (F.lit(1000000.0) * (F.col("n_members") - 1).cast("double")),
                4,
            ).alias("mean_cos"),
            F.round("_min", 4).alias("min_cos"),
        )
    )


def _pair_moment_stats(v, dim: int, scale_bits: int) -> DataFrame:
    """The distributed half of :func:`embedding_covariance`: per-row
    upper-triangle pair array (element first-moments ride along as
    j = -1 sentinels) -> ONE explode -> ONE map-side-combinable
    groupBy(i, j) of <= d(d+3)/2 keys. Plan-pinned in test_plans.py."""
    s = float(1 << scale_bits)

    def elem(i):
        # i is 0-based (an int column); element_at is 1-based
        return F.element_at(F.col("v"), (i + F.lit(1)).cast("int"))

    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.concat(
                F.array(
                    F.struct(
                        i.cast("int").alias("i"),
                        F.lit(-1).cast("int").alias("j"),
                        F.floor(elem(i) * F.lit(s)).alias("p"),
                    )
                ),
                F.transform(
                    F.sequence(i, F.lit(dim - 1)),
                    lambda j: F.struct(
                        i.cast("int").alias("i"),
                        j.cast("int").alias("j"),
                        F.floor(elem(i) * elem(j) * F.lit(s)).alias("p"),
                    ),
                ),
            ),
        )
    )
    return (
        v.select(F.explode(pair_arr).alias("t"))
        .groupBy(F.col("t.i").alias("i"), F.col("t.j").alias("j"))
        .agg(F.sum("t.p").alias("sp"), F.count(F.lit(1)).alias("cnt"))
    )


def embedding_covariance(
    vectors: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    scale_bits: int = 20,
    max_dim: int = 1024,
) -> DataFrame:
    """Corpus covariance / correlation matrix of the embedding space —
    the spectral lens the centroid family is blind to. Centroid drift
    sees WHERE the cloud sits; this sees its SHAPE: a collapsing
    off-diagonal (dimensions suddenly correlated) means the encoder is
    folding the space (e.g. a bad re-embed run writing near-rank-1
    vectors), which nukes ANN recall long before any mean moves.

    Returns the upper triangle (i, j, n_vecs, cov, corr), i <= j
    0-based, cov/corr 6-dp. Same fixed-point discipline as
    :func:`embedding_group_drift`: the sufficient statistics are
    ``sum(floor(x_i * 2^scale_bits))`` and
    ``sum(floor(x_i * x_j * 2^scale_bits))`` bigints, so every moment
    is parallelism-invariant and a SQL oracle reproduces it
    bit-for-bit; covariance arithmetic then runs on those exact
    integers driver-side. ``corr`` is null when either variance is 0.

    Scale shape: ONE explode of the per-row upper-triangle pair array
    (the element moments ride along as j = -1 sentinel entries, so one
    pass carries both first and second moments) into ONE map-side-
    combinable groupBy(i, j) — each task reduces its partials to
    <= d(d+3)/2 rows before the exchange, so the shuffle carries
    O(d^2 x partitions) bigints regardless of corpus size, and the
    driver collects ~d^2/2 rows (d=64 -> 2,144). A giant wide-agg
    alternative (one SUM column per pair) was measured 25x slower at
    d=64 purely on plan compilation — the pair-array explode keeps
    codegen small and constant. ``max_dim`` guards against an
    accidental 10^6-key agg from a mis-typed dim. Null vectors, null
    elements and off-dimension vectors are dropped (modal-length
    inference when dim is None), matching the rest of the embedding
    family.

    Exactness bound (group_corr discipline): pair sums stay exact
    while n·max|x_i·x_j|·2^scale_bits < 2^63 — at 10^12 rows keep
    embeddings roughly unit-scale at scale_bits=20, or lower
    scale_bits for wild magnitudes.
    """
    v = vectors.select(as_double(F.col(vec_col)).alias("v")).where(
        F.col("v").isNotNull() & ~F.exists(F.col("v"), lambda x: x.isNull())
    )
    spark = vectors.sparkSession
    out_schema = (
        "i int, j int, n_vecs long, cov double, corr double"
    )
    if dim is None:
        dim_row = (
            v.groupBy(F.size("v").alias("d"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("d").asc())
            .first()
        )
        if dim_row is None:
            return spark.createDataFrame([], out_schema)
        dim = int(dim_row["d"])
    if dim < 1:
        raise ValueError("dim must be >= 1, got %r" % (dim,))
    if dim > max_dim:
        raise ValueError(
            "embedding_covariance: dim=%d exceeds max_dim=%d (a d^2 "
            "aggregate with ~%d keys; raise max_dim explicitly if the "
            "embedding really is that wide)"
            % (dim, max_dim, dim * (dim + 3) // 2)
        )
    v = v.where(F.size("v") == dim)
    stats = _pair_moment_stats(v, dim, scale_bits).collect()
    s = float(1 << scale_bits)
    if not stats:
        return spark.createDataFrame([], out_schema)
    n = int(stats[0]["cnt"])
    esum = {r["i"]: int(r["sp"]) for r in stats if r["j"] == -1}
    psum = {(r["i"], r["j"]): int(r["sp"]) for r in stats if r["j"] >= 0}
    means = [float(esum[i]) / (s * n) for i in range(dim)]
    cov = {}
    for i in range(dim):
        for j in range(i, dim):
            exy = float(psum[(i, j)]) / (s * n)
            cov[(i, j)] = exy - means[i] * means[j]
    out = []
    for i in range(dim):
        for j in range(i, dim):
            vi, vj = cov[(i, i)], cov[(j, j)]
            corr = (
                round(cov[(i, j)] / math.sqrt(vi * vj), 6)
                if vi > 0 and vj > 0
                else None
            )
            out.append((i, j, n, round(cov[(i, j)], 6), corr))
    return spark.createDataFrame(out, out_schema)


def covariance_spectrum(
    vectors: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    scale_bits: int = 20,
) -> DataFrame:
    """Eigen-spectrum of :func:`embedding_covariance` — variance
    explained per principal direction plus the effective rank
    (exp of the eigenvalue-distribution entropy), the one-number
    space-collapse alarm: a healthy d-dim embedding space sits near
    d; a re-embed bug that folds the space drops it toward 1.

    Driver-side numpy ``eigvalsh`` on the d x d matrix (the covariance
    sufficient statistics already reduced to ONE row — the eigensolve
    is O(d^3) on d ~ 32, never data-sized). Eigenvalues clamp at 0
    (fixed-point rounding can leave tiny negatives). Returns
    (rank, eigenvalue, var_explained, cum_var, effective_rank) sorted
    descending, rank 1-based; effective_rank repeats on every row.
    Not SQL-expressible (no eigensolver in an oracle engine) —
    pinned by construction tests instead (rank-1 fixture collapses,
    isotropic fixture stays near d).
    """
    import numpy as np

    cov_rows = embedding_covariance(
        vectors, vec_col=vec_col, dim=dim, scale_bits=scale_bits
    ).collect()
    spark = vectors.sparkSession
    out_schema = (
        "rank int, eigenvalue double, var_explained double, "
        "cum_var double, effective_rank double"
    )
    if not cov_rows:
        return spark.createDataFrame([], out_schema)
    d = max(r["j"] for r in cov_rows) + 1
    m = np.zeros((d, d))
    for r in cov_rows:
        m[r["i"], r["j"]] = m[r["j"], r["i"]] = r["cov"]
    eig = np.maximum(np.linalg.eigvalsh(m), 0.0)[::-1]
    total = float(eig.sum())
    if total <= 0:
        eff = 1.0
    else:
        p = eig / total
        p = p[p > 0]
        eff = float(np.exp(-(p * np.log(p)).sum()))
    out, cum = [], 0.0
    for k, ev in enumerate(eig):
        share = float(ev) / total if total > 0 else 0.0
        cum += share
        out.append(
            (
                k + 1,
                round(float(ev), 6),
                round(share, 6),
                round(min(cum, 1.0), 6),
                round(eff, 4),
            )
        )
    return spark.createDataFrame(out, out_schema)
