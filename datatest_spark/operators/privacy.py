"""Privacy-risk audits over quasi-identifier column sets.

A training corpus assembled from user-generated records re-identifies
people when a combination of innocuous columns (the *quasi-identifiers*,
QI) is rare enough to single a row out.  The classic yardsticks:

- **k-anonymity** — every QI equivalence class holds >= k rows; the
  dataset's k is the size of its smallest class.
- **l-diversity** — every class carries >= l distinct values of the
  *sensitive* column, so membership in a class does not disclose the
  sensitive value even when k holds.

Both are pure grouped aggregation — exactly the shape Spark does best:
one map-side-combinable ``groupBy(quasi_cols)`` over the scan, no
window, no per-row Python.  The reference package (``datatest``) frames
every audit as validate(data, requirement) -> difference rows; these
operators keep that contract — violating classes come back as rows a
suite can assert empty, accept with tolerances, or persist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "k_anonymity_violations",
    "k_anonymity_profile",
]

# NUL-adjacent separator: cannot appear in the coalesced string forms of
# real column values (testdata and tokenized-sequence metadata are
# printable); makes qi_key a faithful injective class label.
_SEP = "\x1f"
_NULL = "\x00null\x00"


def _qi_key(quasi_cols) -> F.Column:
    return F.concat_ws(
        _SEP,
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(_NULL))
            for c in quasi_cols
        ],
    )


def _classes(df: DataFrame, quasi_cols, sensitive_col):
    """One exchange: per-QI-class size (+ distinct sensitive values)."""
    if not quasi_cols:
        raise ValueError("k_anonymity: quasi_cols must be non-empty")
    aggs = [F.count(F.lit(1)).cast("long").alias("class_size")]
    if sensitive_col is not None:
        # a NULL sensitive value is still a disclosure bucket of its
        # own; coalesce so it counts as one distinct value, matching
        # COUNT(DISTINCT COALESCE(..)) on the oracle side
        aggs.append(
            F.countDistinct(
                F.coalesce(
                    F.col(sensitive_col).cast("string"), F.lit(_NULL)
                )
            )
            .cast("long")
            .alias("distinct_sensitive")
        )
    return (
        df.select(
            _qi_key(quasi_cols).alias("qi_key"),
            *([] if sensitive_col is None else [F.col(sensitive_col)]),
        )
        .groupBy("qi_key")
        .agg(*aggs)
    )


def k_anonymity_violations(
    df: DataFrame,
    quasi_cols,
    k: int = 5,
    sensitive_col: str | None = None,
    l: int | None = None,
) -> DataFrame:
    """Equivalence classes that break k-anonymity (class_size < k) or —
    when ``sensitive_col``/``l`` are given — l-diversity
    (distinct_sensitive < l).  One row per violating class:
    ``(qi_key, class_size[, distinct_sensitive], k_violation,
    l_violation)``; a privacy-clean dataset returns an empty frame, the
    shape a validation suite asserts on (and ``accepted.count(n)``-style
    tolerances compose over, exactly like any other difference stream).

    ``qi_key`` is the QI tuple joined with an unprintable separator
    (nulls spelled distinctly), so classes stay injective without
    carrying a variable column list through downstream plumbing.

    Scale shape: ONE map-side-combinable ``groupBy`` over the scan
    (partial counts combine before the exchange); with a sensitive
    column the distinct-count adds the standard two-phase expansion but
    still no window and no per-row Python.  Violations are by
    construction the rare tail (size < k), so the result is collectable
    by a suite verdict even at 10^12 input rows — unless the data is
    catastrophically unique, which is precisely the finding.
    """
    if k < 1:
        raise ValueError("k_anonymity: k must be >= 1")
    if l is not None and l < 1:
        raise ValueError("k_anonymity: l must be >= 1")
    if (sensitive_col is None) != (l is None):
        raise ValueError(
            "k_anonymity: sensitive_col and l come together (l-diversity "
            "needs both the column and the threshold)"
        )
    per = _classes(df, quasi_cols, sensitive_col)
    kv = (F.col("class_size") < k).alias("k_violation")
    if sensitive_col is None:
        return per.where(F.col("class_size") < k).select(
            "qi_key", "class_size", kv
        )
    lv = (F.col("distinct_sensitive") < l).alias("l_violation")
    return per.where(
        (F.col("class_size") < k) | (F.col("distinct_sensitive") < l)
    ).select("qi_key", "class_size", "distinct_sensitive", kv, lv)


def k_anonymity_profile(
    df: DataFrame,
    quasi_cols,
    k: int = 5,
    sensitive_col: str | None = None,
    l: int | None = None,
) -> DataFrame:
    """Single-row corpus privacy scorecard: the dataset's achieved
    ``k_anonymity`` (smallest class size), class counts, how many rows
    sit in sub-k classes (``rows_at_risk`` — the re-identifiable
    population) and its share, plus — with a sensitive column — the
    achieved ``l_diversity`` and the number of classes below ``l``.

    Scale shape: the class aggregation (one exchange) followed by a
    scalar aggregate over |classes| rows — min/sum/count only, all
    map-side combinable, no ordering anywhere, so the whole audit is
    two shuffle-light stages regardless of input size.  An empty input
    yields one row of zero counts with null k/l (never a crash), so a
    scheduled monitor always gets its verdict row.

    Cross-engine determinism: every output is an exact BIGINT except
    ``at_risk_share``, one correctly-rounded IEEE division mirrored
    verbatim in the oracle SQL.
    """
    if k < 1:
        raise ValueError("k_anonymity: k must be >= 1")
    if l is not None and l < 1:
        raise ValueError("k_anonymity: l must be >= 1")
    if (sensitive_col is None) != (l is None):
        raise ValueError(
            "k_anonymity: sensitive_col and l come together (l-diversity "
            "needs both the column and the threshold)"
        )
    per = _classes(df, quasi_cols, sensitive_col)
    n_rows = F.sum("class_size").alias("n_rows")
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        n_rows,
        F.min("class_size").alias("k_anonymity"),
        F.sum(F.when(F.col("class_size") < k, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("k_violating_classes"),
        F.sum(
            F.when(F.col("class_size") < k, F.col("class_size")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("rows_at_risk"),
    ]
    if sensitive_col is not None:
        aggs += [
            F.min("distinct_sensitive").alias("l_diversity"),
            F.sum(
                F.when(F.col("distinct_sensitive") < l, F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("l_violating_classes"),
        ]
    agg = per.agg(*aggs)
    share = F.when(
        F.col("n_rows") > 0,
        F.round(
            F.col("rows_at_risk").cast("double")
            / F.col("n_rows").cast("double"),
            6,
        ),
    ).alias("at_risk_share")
    cols = [
        "n_classes",
        F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
        "k_anonymity",
        F.coalesce(F.col("k_violating_classes"), F.lit(0))
        .cast("long")
        .alias("k_violating_classes"),
        F.coalesce(F.col("rows_at_risk"), F.lit(0))
        .cast("long")
        .alias("rows_at_risk"),
        share,
    ]
    if sensitive_col is not None:
        cols += [
            "l_diversity",
            F.coalesce(F.col("l_violating_classes"), F.lit(0))
            .cast("long")
            .alias("l_violating_classes"),
        ]
    return agg.select(*cols)
