"""Acceptances — the tolerance layer (SURVEY.md §2.7, T1–T13).

Re-expresses ``ref:datatest/acceptances.py``. Every acceptance exists in
two coupled forms with identical semantics:

  * **driver-side**: a context manager that intercepts ``ValidationError``
    and filters the (bounded, already-collected) difference objects —
    byte-for-byte the reference's test-author surface;
  * **distributed**: a filter over the violations DataFrame applied before
    verdict computation (SURVEY §3.2). Pure-predicate acceptances compile
    to boolean Columns; counted acceptances (T3/T4/T10) use a
    ``row_number`` window over a *stable key* so absorption is
    deterministic at any parallelism (SURVEY C5).

Composition: ``a & b`` absorbs only if both accept (budget consumed
jointly), ``a | b`` if either (left side consumes first). Scope rules
(T13): element-scope predicates are stateless; list/dict budgets consume
per matching instance; ``count(n)`` is a whole-error budget.
"""

from __future__ import annotations

import math
from collections import Counter
from numbers import Number

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .differences import (
    BaseDifference,
    Deviation,
    Extra,
    Invalid,
    Missing,
    ValidationError,
)
from .functions.fuzzy import fuzzy_ratio_py
from .predicates import Predicate
from .session import local_frame

_KIND_OF = {Missing: "missing", Extra: "extra", Invalid: "invalid", Deviation: "deviation"}


def _stable_order_cols():
    """Deterministic tie-break for counted absorption (C5)."""
    return [
        F.col("kind").asc_nulls_last(),
        F.col("group_key").asc_nulls_last(),
        F.col("value").asc_nulls_last(),
        F.col("expected").asc_nulls_last(),
        F.col("deviation").asc_nulls_last(),
        F.col("doc_id").asc_nulls_last(),
    ]


def _stable_sort_key(diff, key):
    """Driver-side mirror of ``_stable_order_cols`` (nulls last)."""
    kind, value, expected, deviation = _sig_cols_of(diff)
    return (
        kind,
        (key is None, str(key) if key is not None else ""),
        (value is None, value if value is not None else ""),
        (expected is None, expected if expected is not None else ""),
        (
            deviation is None,
            0.0
            if deviation is None or (isinstance(deviation, float) and math.isnan(deviation))
            else deviation,
        ),
    )


def _diff_sig(diff):
    """Hashable identity of a difference: (class, repr-args)."""
    return (type(diff).__name__, tuple(repr(a) for a in diff.args))


class BaseAcceptance(object):
    """Common machinery: stateful filter protocol + composition + ctx-mgr."""

    scope = "element"

    # -- driver-side protocol ---------------------------------------------
    def start(self):
        """Return fresh mutable state for one filtering pass (None if stateless)."""
        return None

    def peek(self, diff, key, state):
        raise NotImplementedError

    def consume(self, diff, key, state):
        pass

    def filter_differences(self, differences):
        """Filter absorbed differences; budget consumption happens in the
        engine's stable order (C5) so the driver-side result is identical
        to the distributed one at any partitioning. Output order preserves
        the input."""
        state = self.start()
        if isinstance(differences, dict):
            pairs = [(k, d) for k, diffs in differences.items() for d in diffs]
        else:
            pairs = [(None, d) for d in differences]
        order = sorted(
            range(len(pairs)), key=lambda i: _stable_sort_key(pairs[i][1], pairs[i][0])
        )
        absorbed = set()
        for i in order:
            k, d = pairs[i]
            if self._absorb_one(d, k, state):
                absorbed.add(i)
        if isinstance(differences, dict):
            out = {}
            for i, (k, d) in enumerate(pairs):
                if i not in absorbed:
                    out.setdefault(k, []).append(d)
            return out
        return [d for i, (_, d) in enumerate(pairs) if i not in absorbed]

    def _absorb_one(self, diff, key, state):
        if self.peek(diff, key, state):
            self.consume(diff, key, state)
            return True
        return False

    # -- context manager ---------------------------------------------------
    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        if exc_type is None:
            return False
        if not issubclass(exc_type, ValidationError):
            return False
        remaining = self.filter_differences(exc.differences)
        count = (
            sum(len(v) for v in remaining.values())
            if isinstance(remaining, dict)
            else len(remaining)
        )
        if count:
            raise ValidationError(remaining, exc.description) from None
        return True

    # -- composition --------------------------------------------------------
    def __and__(self, other):
        return AcceptedCombined(self, other, union=False)

    def __or__(self, other):
        return AcceptedCombined(self, other, union=True)

    # -- distributed protocol ----------------------------------------------
    def column(self):
        """Boolean accept-Column over violation rows, or None if budgeted."""
        return None

    def apply(self, violations_df):
        """Filter accepted rows out of a violations DataFrame."""
        col = self.column()
        if col is not None:
            return violations_df.filter(~F.coalesce(col, F.lit(False)))
        return self._apply_budgeted(violations_df, F.lit(True))

    def _apply_budgeted(self, violations_df, mask):
        raise NotImplementedError(
            "{0} has no distributed form".format(type(self).__name__)
        )


class AcceptedInstance(BaseAcceptance):
    """accepted(diff_instance) — absorb every diff equal to it (T1)."""

    def __init__(self, instance):
        self.instance = instance

    def peek(self, diff, key, state):
        return diff == self.instance

    def column(self):
        d = self.instance
        kind = _KIND_OF[type(d)]
        cond = F.col("kind") == kind
        if isinstance(d, Deviation):
            dev, exp = d.args
            cond = cond & F.col("deviation").eqNullSafe(
                F.lit(float(dev) if dev is not None else None)
            )
            # engine rows stringify expected from typed columns ('10' or
            # '10.0'); normalize both sides through double
            cond = cond & F.col("expected").try_cast("double").eqNullSafe(
                F.lit(float(exp)) if exp is not None else F.lit(None).cast("double")
            )
        else:
            _kind, value, expected, _dev = _sig_cols_of(d)
            cond = cond & F.col("value").eqNullSafe(F.lit(value).cast("string"))
            if isinstance(d, Invalid):
                # arity-sensitive, matching driver __eq__: a one-arg
                # Invalid must NOT absorb rows that carry an expected
                # value (Invalid('a') != Invalid('a', 'exp'))
                if len(d.args) > 1:
                    cond = cond & F.col("expected").eqNullSafe(
                        F.lit(expected).cast("string")
                    )
                else:
                    cond = cond & F.col("expected").isNull()
        return cond

    def __repr__(self):
        return "accepted({0!r})".format(self.instance)


class AcceptedClass(BaseAcceptance):
    """accepted(DiffClass) — absorb all of a difference class (T2)."""

    def __init__(self, cls):
        self.cls = cls

    def peek(self, diff, key, state):
        return isinstance(diff, self.cls)

    def column(self):
        kinds = [v for k, v in _KIND_OF.items() if issubclass(k, self.cls)]
        return F.col("kind").isin(kinds)

    def __repr__(self):
        return "accepted({0})".format(self.cls.__name__)


class AcceptedList(BaseAcceptance):
    """accepted([d1, d2, ...]) — counted absorption (T3): each listed
    instance absorbs at most one matching difference."""

    scope = "whole"

    def __init__(self, diffs):
        self.diffs = list(diffs)

    def start(self):
        return Counter(_diff_sig(d) for d in self.diffs)

    def peek(self, diff, key, state):
        return state[_diff_sig(diff)] > 0

    def consume(self, diff, key, state):
        state[_diff_sig(diff)] -= 1

    def _apply_budgeted(self, violations_df, mask):
        spark = violations_df.sparkSession
        # distributed form keys on (kind, value, expected, deviation)
        # signatures; Deviation instances key on (deviation, expected).
        bcounter = Counter(_sig_cols_of(d) for d in self.diffs)
        bdf = local_frame(
            spark,
            [(k[0], k[1], k[2], float(k[3]) if k[3] is not None else None, n)
             for k, n in bcounter.items()],
            "kind string, value string, expected string, deviation double, _budget long",
        )
        vdf = (
            violations_df.withColumn("_mask", mask)
            .withColumn("_sv", _sig_value_col())
            .withColumn("_se", _sig_expected_col())
        )
        w = Window.partitionBy("_mask", "kind", "_sv", "_se", "deviation").orderBy(
            *_stable_order_cols()
        )
        vdf = vdf.withColumn("_rn", F.row_number().over(w))
        joined = vdf.join(
            F.broadcast(bdf),
            on=[
                vdf["kind"].eqNullSafe(bdf["kind"]),
                vdf["_sv"].eqNullSafe(bdf["value"]),
                vdf["_se"].eqNullSafe(bdf["expected"]),
                vdf["deviation"].eqNullSafe(bdf["deviation"]),
            ],
            how="left",
        ).select(vdf["*"], bdf["_budget"])
        kept = joined.filter(
            F.col("_budget").isNull()
            | (F.col("_rn") > F.col("_budget"))
            | ~F.col("_mask")
        )
        return kept.drop("_rn", "_budget", "_mask", "_sv", "_se")


def _sig_cols_of(d):
    """(kind, value, expected, deviation) distributed signature of a diff.

    Deviations sign on (deviation, expected) only — engine-produced
    deviation rows carry the actual value in ``value``, so it is excluded
    from the signature; expected is normalized through float so '10' and
    '10.0' unify."""
    kind = _KIND_OF[type(d)]
    if isinstance(d, Deviation):
        dev, exp = d.args
        return (kind, None, str(float(exp)) if exp is not None else None,
                float(dev) if dev is not None else None)
    value = d.args[0]
    expected = d.args[1] if isinstance(d, Invalid) and len(d.args) > 1 else None
    # None stays None: violation rows hold SQL NULL there, which sorts
    # last and matches only NULL — never the string 'None'
    return (kind, None if value is None else str(value),
            None if expected is None else str(expected), None)


def _sig_value_col():
    """Violation-row value normalized to the signature convention."""
    return F.when(
        F.col("kind") == "deviation", F.lit(None).cast("string")
    ).otherwise(F.col("value"))


def _sig_expected_col():
    """Violation-row expected normalized: deviations through float."""
    return F.when(
        F.col("kind") == "deviation",
        F.col("expected").try_cast("double").cast("string"),
    ).otherwise(F.col("expected"))


class AcceptedMapping(BaseAcceptance):
    """accepted({key: diffs}) — per-group-key counted absorption (T4)."""

    scope = "group"

    def __init__(self, mapping):
        self.mapping = {
            k: (list(v) if isinstance(v, (list, tuple)) else [v])
            for k, v in mapping.items()
        }

    def start(self):
        return {
            k: Counter(_diff_sig(d) for d in v) for k, v in self.mapping.items()
        }

    def peek(self, diff, key, state):
        c = state.get(key)
        return bool(c) and c[_diff_sig(diff)] > 0

    def consume(self, diff, key, state):
        state[key][_diff_sig(diff)] -= 1

    def _apply_budgeted(self, violations_df, mask):
        spark = violations_df.sparkSession
        rows = []
        for k, diffs in self.mapping.items():
            for sig, n in Counter(_sig_cols_of(d) for d in diffs).items():
                rows.append((str(k),) + sig + (n,))
        bdf = local_frame(
            spark,
            rows,
            "group_key string, kind string, value string, expected string, "
            "deviation double, _budget long",
        )
        vdf = (
            violations_df.withColumn("_mask", mask)
            .withColumn("_sv", _sig_value_col())
            .withColumn("_se", _sig_expected_col())
        )
        w = Window.partitionBy(
            "_mask", "group_key", "kind", "_sv", "_se", "deviation"
        ).orderBy(*_stable_order_cols())
        vdf = vdf.withColumn("_rn", F.row_number().over(w))
        joined = vdf.join(
            F.broadcast(bdf),
            on=[
                vdf["group_key"].eqNullSafe(bdf["group_key"]),
                vdf["kind"].eqNullSafe(bdf["kind"]),
                vdf["_sv"].eqNullSafe(bdf["value"]),
                vdf["_se"].eqNullSafe(bdf["expected"]),
                vdf["deviation"].eqNullSafe(bdf["deviation"]),
            ],
            how="left",
        ).select(vdf["*"], bdf["_budget"])
        kept = joined.filter(
            F.col("_budget").isNull()
            | (F.col("_rn") > F.col("_budget"))
            | ~F.col("_mask")
        )
        return kept.drop("_rn", "_budget", "_mask", "_sv", "_se")


class AcceptedKeys(BaseAcceptance):
    """accepted.keys(predicate) — absorb diffs whose group key matches (T5)."""

    def __init__(self, predicate):
        self.predicate = Predicate(predicate)

    def peek(self, diff, key, state):
        return self.predicate(key)

    def column(self):
        from .predicates import compile_callable, compile_predicate

        inner = self.predicate.obj
        if (
            callable(inner)
            and not isinstance(inner, type)
            and not hasattr(inner, "pattern")
        ):
            # arbitrary callables get the vectorized-UDF path (runs over
            # violation rows only, same as AcceptedArgs)
            return compile_callable(self.predicate, F.col("group_key"))
        return compile_predicate(self.predicate, F.col("group_key"))


class AcceptedArgs(BaseAcceptance):
    """accepted.args(predicate) — absorb diffs whose .args match (T6).

    Distributed form: a vectorized pandas UDF applying the same Predicate
    to reconstructed args — it runs over violation rows only (the small
    side), which keeps the reference's arbitrary-callable power without a
    hot-path UDF."""

    def __init__(self, predicate):
        self.predicate = Predicate(predicate)

    def peek(self, diff, key, state):
        args = diff.args
        if isinstance(self.predicate.obj, tuple):
            return self.predicate(tuple(args))
        if len(args) == 1:
            return self.predicate(args[0])
        return self.predicate(tuple(args))

    def column(self):
        import pandas as pd
        from pyspark.sql import types as T

        pred = self.predicate

        @F.pandas_udf(T.BooleanType())
        def _match(kind, value, expected, deviation):
            out = []
            for k, v, e, dv in zip(kind, value, expected, deviation):
                # rebuild the difference's args the way the raise-adapter
                # would: deviation rows -> (deviation, expected); others ->
                # (value[, expected]), numerics re-parsed
                def unstr(s):
                    if s is None or not isinstance(s, str):
                        return s
                    try:
                        return int(s)
                    except ValueError:
                        pass
                    try:
                        return float(s)
                    except ValueError:
                        return s

                if k == "deviation":
                    args = (dv, unstr(e))
                elif e is not None:
                    args = (unstr(v), unstr(e))
                else:
                    args = (unstr(v),)
                try:
                    if isinstance(pred.obj, tuple):
                        out.append(bool(pred(tuple(args))))
                    elif len(args) == 1:
                        out.append(bool(pred(args[0])))
                    else:
                        out.append(bool(pred(tuple(args))))
                except Exception:
                    out.append(False)
            return pd.Series(out, dtype="bool")

        return _match(
            F.col("kind"), F.col("value"), F.col("expected"), F.col("deviation")
        )


class AcceptedTolerance(BaseAcceptance):
    """accepted.tolerance(tol) / (lower, upper) — absorb Deviations within
    bounds, inclusive (T7). Also absorbs the empty-vs-number cases when the
    implied numeric deviation falls inside the bounds."""

    def __init__(self, lower, upper=None):
        if upper is None:
            if lower < 0:
                raise ValueError("single tolerance must be non-negative")
            lower, upper = -lower, lower
        if lower > upper:
            raise ValueError("tolerance lower > upper")
        self.lower, self.upper = lower, upper

    def peek(self, diff, key, state):
        if not isinstance(diff, Deviation):
            return False
        dev = diff.deviation
        if dev is None or (isinstance(dev, float) and math.isnan(dev)):
            return False
        return self.lower <= dev <= self.upper

    def column(self):
        return (
            (F.col("kind") == "deviation")
            & F.col("deviation").isNotNull()
            & ~F.isnan(F.col("deviation"))
            & F.col("deviation").between(float(self.lower), float(self.upper))
        )


class AcceptedPercent(BaseAcceptance):
    """accepted.percent(p) / (lower, upper) — deviation/expected within
    bounds (T8); expected == 0 accepts only empty deviations."""

    def __init__(self, lower, upper=None):
        if upper is None:
            if lower < 0:
                raise ValueError("single percent must be non-negative")
            lower, upper = -lower, lower
        if lower > upper:
            raise ValueError("percent lower > upper")
        self.lower, self.upper = lower, upper

    def peek(self, diff, key, state):
        if not isinstance(diff, Deviation):
            return False
        dev, exp = diff.deviation, diff.expected
        if not isinstance(exp, Number) or exp == 0:
            return not dev
        if dev is None:
            dev = 0
        if isinstance(dev, float) and math.isnan(dev):
            return False
        return self.lower <= (dev / exp) <= self.upper

    def column(self):
        exp = F.col("expected").try_cast("double")
        dev = F.col("deviation")
        ratio_ok = (
            exp.isNotNull()
            & (exp != 0)
            & dev.isNotNull()
            & ~F.isnan(dev)
            & (dev / exp).between(float(self.lower), float(self.upper))
        )
        zero_ok = (exp.isNull() | (exp == 0)) & (dev.isNull() | (dev == 0))
        return (F.col("kind") == "deviation") & (ratio_ok | zero_ok)


class AcceptedFuzzy(BaseAcceptance):
    """accepted.fuzzy(cutoff) — absorb Invalid string diffs whose difflib
    ratio vs expected >= cutoff (T9). Driver-side exact; distributed form
    runs the vectorized difflib UDF on violation rows only."""

    def __init__(self, cutoff=0.6):
        self.cutoff = cutoff

    def peek(self, diff, key, state):
        if not isinstance(diff, Invalid) or len(diff.args) < 2:
            return False
        a, b = diff.args[0], diff.args[1]
        if not isinstance(a, str) or not isinstance(b, str):
            return False
        return fuzzy_ratio_py(a, b) >= self.cutoff

    def column(self):
        from .functions.fuzzy import fuzzy_ratio_udf

        return (
            (F.col("kind") == "invalid")
            & F.col("expected").isNotNull()
            & (fuzzy_ratio_udf(F.col("value"), F.col("expected")) >= F.lit(self.cutoff))
        )


class AcceptedCount(BaseAcceptance):
    """accepted.count(n) — absorb up to n differences total (T10)."""

    scope = "whole"

    def __init__(self, number):
        if number < 0:
            raise ValueError("count must be >= 0")
        self.number = number

    def start(self):
        return [self.number]

    def peek(self, diff, key, state):
        return state[0] > 0

    def consume(self, diff, key, state):
        state[0] -= 1

    def _apply_budgeted(self, violations_df, mask):
        vdf = violations_df.withColumn("_mask", mask)
        w = Window.partitionBy("_mask").orderBy(*_stable_order_cols())
        vdf = vdf.withColumn("_rn", F.row_number().over(w))
        return vdf.filter(
            (F.col("_rn") > self.number) | ~F.col("_mask")
        ).drop("_rn", "_mask")


class AcceptedCombined(BaseAcceptance):
    """Composition (T11/T12): & = both accept; | = either accepts.

    Budgets are consumed only on actual absorption: for ``&`` both sides
    consume jointly; for ``|`` the left side is tried first.
    """

    def __init__(self, left, right, union):
        self.left = left
        self.right = right
        self.union = union

    def start(self):
        return (self.left.start(), self.right.start())

    def peek(self, diff, key, state):
        ls, rs = state
        if self.union:
            return self.left.peek(diff, key, ls) or self.right.peek(diff, key, rs)
        return self.left.peek(diff, key, ls) and self.right.peek(diff, key, rs)

    def consume(self, diff, key, state):
        ls, rs = state
        if self.union:
            if self.left.peek(diff, key, ls):
                self.left.consume(diff, key, ls)
            else:
                self.right.consume(diff, key, rs)
        else:
            self.left.consume(diff, key, ls)
            self.right.consume(diff, key, rs)

    def column(self):
        lc, rc = self.left.column(), self.right.column()
        if lc is None or rc is None:
            return None
        return (lc | rc) if self.union else (lc & rc)

    def apply(self, violations_df):
        col = self.column()
        if col is not None:
            return violations_df.filter(~F.coalesce(col, F.lit(False)))
        lc, rc = self.left.column(), self.right.column()
        if self.union:
            # left absorbs first, right filters the remainder — matches the
            # driver-side consume order.
            return self.right.apply(self.left.apply(violations_df))
        # intersection with a budgeted side: budget applies only where the
        # pure side accepts.
        if lc is not None and rc is None:
            return self.right._apply_budgeted(violations_df, F.coalesce(lc, F.lit(False)))
        if rc is not None and lc is None:
            return self.left._apply_budgeted(violations_df, F.coalesce(rc, F.lit(False)))
        raise NotImplementedError(
            "distributed '&' of two budgeted acceptances is not supported; "
            "apply driver-side via filter_differences"
        )

    def __repr__(self):
        op = "|" if self.union else "&"
        return "({0!r} {1} {2!r})".format(self.left, op, self.right)


class _AcceptedFactory(object):
    """The ``accepted(...)`` callable with method attributes (ref api)."""

    def __call__(self, obj):
        if isinstance(obj, BaseDifference):
            return AcceptedInstance(obj)
        if isinstance(obj, type) and issubclass(obj, BaseDifference):
            return AcceptedClass(obj)
        if isinstance(obj, dict):
            return AcceptedMapping(obj)
        if isinstance(obj, (list, tuple)):
            return AcceptedList(obj)
        raise TypeError("cannot build acceptance from {0!r}".format(obj))

    @staticmethod
    def keys(predicate):
        return AcceptedKeys(predicate)

    @staticmethod
    def args(predicate):
        return AcceptedArgs(predicate)

    @staticmethod
    def tolerance(lower, upper=None):
        return AcceptedTolerance(lower, upper)

    @staticmethod
    def percent(lower, upper=None):
        return AcceptedPercent(lower, upper)

    @staticmethod
    def fuzzy(cutoff=0.6):
        return AcceptedFuzzy(cutoff)

    @staticmethod
    def count(number):
        return AcceptedCount(number)


accepted = _AcceptedFactory()
