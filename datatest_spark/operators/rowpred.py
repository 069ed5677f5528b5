"""Per-row predicate operators: callable predicates + token-array equality.

Callable predicates (P5/U1) are the reference's escape hatch
(``ref:datatest/_predicate.py``): an arbitrary Python callable applied per
element, optionally *returning a difference object* used verbatim. On Spark
this is the sanctioned slow path: a **vectorized pandas UDF** (Arrow
batches, never row-at-a-time Python — BASELINE.json:15).

Token-array equality (J5/U3) is the per-row invariant vs the reference
copy: a pure JVM plan that joins per-row ``xxhash64`` digests and compares
the arrays themselves (``<=>``) only on the rare candidate rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..predicates import Predicate


def callable_violations(df, col, predicate, id_col=None, group_col=None):
    """Violations plan for a callable predicate.

    The callable may return: truthy/falsy (usual predicate), or a
    difference object (Missing/Extra/Invalid/Deviation) which is emitted
    verbatim (ref:datatest difference-returning callables). The UDF returns
    a struct (ok, kind, value, expected, deviation); rows with ok=false
    become violations.
    """
    from ..differences import BaseDifference, Deviation, Extra, Invalid, Missing

    # Unwrap Predicate so difference-returning callables keep their
    # difference semantics (Predicate.__call__ bool-coerces the returned
    # difference, which would silently swallow it). The driver-side oracle
    # for negation is Predicate.__call__: a returned difference coerces
    # truthy, so under ~P it yields False — still a violation (reported as
    # a generic Invalid; the returned difference's args describe the
    # un-negated failure and don't apply).
    negated = isinstance(predicate, Predicate) and predicate._negated
    fn = predicate.obj if isinstance(predicate, Predicate) else predicate
    out_type = T.StructType(
        [
            T.StructField("ok", T.BooleanType()),
            T.StructField("kind", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("expected", T.StringType()),
            T.StructField("deviation", T.DoubleType()),
        ]
    )

    @F.pandas_udf(out_type)
    def _apply(s: pd.Series) -> pd.DataFrame:
        import math

        oks, kinds, values, expecteds, devs = [], [], [], [], []
        for v in s:
            # Arrow hands numeric nulls to pandas as NaN; the reference
            # callable sees Python None for missing values, so normalize
            # (true float NaN data is indistinguishable post-Arrow and
            # also maps to None — documented engine behavior).
            if v is None or (isinstance(v, float) and math.isnan(v)):
                v = None
            try:
                r = fn(v)
            except Exception:
                # an un-evaluable row is a violation whether or not the
                # predicate is negated — negation must not silently
                # accept rows the callable cannot judge
                oks.append(False)
                kinds.append("invalid")
                values.append(None)
                expecteds.append(None)
                devs.append(None)
                continue
            if isinstance(r, BaseDifference):
                if negated:
                    # truthy difference -> ~P is False -> violation, but
                    # as a generic Invalid(value): r's args describe the
                    # un-negated failure
                    oks.append(False)
                    kinds.append("invalid")
                    values.append(None)
                    expecteds.append(None)
                    devs.append(None)
                    continue
                oks.append(False)
                if isinstance(r, Deviation):
                    kinds.append("deviation")
                    values.append(None)
                    expecteds.append(
                        None if r.expected is None else str(r.expected)
                    )
                    devs.append(float(r.deviation) if r.deviation is not None else None)
                else:
                    kinds.append(
                        "missing"
                        if isinstance(r, Missing)
                        else "extra"
                        if isinstance(r, Extra)
                        else "invalid"
                    )
                    values.append(str(r.args[0]))
                    expecteds.append(
                        str(r.args[1]) if isinstance(r, Invalid) and len(r.args) > 1 else None
                    )
                    devs.append(None)
            else:
                ok = bool(r)
                oks.append((not ok) if negated else ok)
                kinds.append("invalid")
                values.append(None)
                expecteds.append(None)
                devs.append(None)
        return pd.DataFrame(
            {"ok": oks, "kind": kinds, "value": values, "expected": expecteds,
             "deviation": devs}
        )

    res = df.withColumn("_r", _apply(F.col(col)))
    bad = res.filter(~F.col("_r.ok"))
    return bad.select(
        F.col("_r.kind").alias("kind"),
        (F.col(group_col).cast("string") if group_col else F.lit(None).cast("string")).alias(
            "group_key"
        ),
        (F.col(id_col).cast("string") if id_col else F.lit(None).cast("string")).alias(
            "doc_id"
        ),
        F.coalesce(F.col("_r.value"), F.col(col).cast("string")).alias("value"),
        F.col("_r.expected").alias("expected"),
        F.col("_r.deviation").alias("deviation"),
        F.lit(None).cast(T.MapType(T.StringType(), T.StringType())).alias("detail"),
    )


def token_equality_violations(
    data: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Per-row token-array equality vs the reference copy (J5/U3).

    Each side reduces its array to ``(id, xxhash64(tokens), size)`` before
    the join, so the shuffle moves 16 bytes per row instead of the full
    token arrays (measured 158s -> seconds on a 4M x ~290-token join at
    local[32]). Only the rare candidate rows re-join their arrays, where
    the null-safe ``<=>`` on the two arrays decides and the violation
    gets its first-diff-position detail. A candidate is a row whose
    hash, size or nullness differs, or whose array holds a null element
    (or a -1, which the probe cannot tell from a null): ``xxhash64``
    skips null elements, so ``[1, null, 3]`` and ``[1, 3, null]`` hash
    alike. A 64-bit collision (probability ~2^-64 per row) could mask a
    corruption.

    Rows present in the reference but absent from the data are Missing;
    mismatched arrays are Invalid with a compact detail. Column pruning:
    only (id, tokens) of each side is scanned.
    """
    d = data.select(F.col(id_col).alias("_id"), F.col(tokens_col).alias("_a"))
    r = reference.select(F.col(id_col).alias("_id"), F.col(tokens_col).alias("_b"))

    def digest(side, arr, tag):
        a = F.col(arr)
        # array_contains(a, -1) is NULL when a holds a null element (and
        # no -1): one codegen loop, no lambda
        return side.select(
            "_id",
            F.xxhash64(a).alias("_h" + tag),
            F.size(a).alias("_s" + tag),
            a.isNull().alias("_n" + tag),
            (~F.array_contains(a, -1).eqNullSafe(False)).alias("_q" + tag),
        )

    candidates = (
        digest(d, "_a", "a").join(digest(r, "_b", "b"), "_id", "inner")
        .filter(
            (F.col("_ha") != F.col("_hb"))
            | (F.col("_sa") != F.col("_sb"))
            | (F.col("_na") != F.col("_nb"))
            | F.col("_qa")
            | F.col("_qb")
        )
        .select("_id")
    )
    mismatch = (
        d.join(candidates, "_id", "left_semi")
        .join(r.join(candidates, "_id", "left_semi"), "_id", "inner")
        .filter(~F.col("_a").eqNullSafe(F.col("_b")))
    )
    invalid = mismatch.select(
        F.lit("invalid").alias("kind"),
        F.lit(None).cast("string").alias("group_key"),
        F.col("_id").cast("string").alias("doc_id"),
        F.concat(F.lit("size="), F.size("_a").cast("string")).alias("value"),
        F.concat(F.lit("size="), F.size("_b").cast("string")).alias("expected"),
        F.lit(None).cast("double").alias("deviation"),
        F.create_map(
            F.lit("check"), F.lit("token_equality"),
            F.lit("first_diff_pos"),
            F.array_position(
                F.zip_with(F.col("_a"), F.col("_b"), lambda x, y: x.eqNullSafe(y)),
                False,
            ).cast("string"),
        ).alias("detail"),
    )
    missing = r.join(d, "_id", "left_anti").select(
        F.lit("missing").alias("kind"),
        F.lit(None).cast("string").alias("group_key"),
        F.col("_id").cast("string").alias("doc_id"),
        F.col("_id").cast("string").alias("value"),
        F.lit(None).cast("string").alias("expected"),
        F.lit(None).cast("double").alias("deviation"),
        F.create_map(F.lit("check"), F.lit("token_equality")).alias("detail"),
    )
    return invalid.unionByName(missing)
