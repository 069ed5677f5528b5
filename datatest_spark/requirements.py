"""Requirement objects — compile datatest requirements to Spark plans.

Re-expresses the reference's requirement dispatch
(``ref:datatest/requirements.py``, SURVEY.md §2.2–§2.6, §3.1) over
DataFrames. Each Requirement compiles to a *violations plan*: a DataFrame
with the core violation columns

    kind, group_key, doc_id, value, expected, deviation, detail

(the suite runner adds run_id / check_id / partition_key, SURVEY.md §1.3).
All hot paths are JVM-side Column expressions, broadcast anti-joins, or
aggregations — never per-row Python (BASELINE.json:15). Callable
predicates are the one sanctioned slow path and go through a vectorized
pandas UDF (operators/rowpred.py).

Dispatch (``get_requirement``, mirrors ref:datatest §3.1):
    set/frozenset  -> RequiredSet        (Missing + Extra via anti-joins)
    mapping        -> RequiredMapping    (per-group-key requirements)
    list           -> RequiredOrder      (order-sensitive compare)
    Requirement    -> itself
    anything else  -> RequiredPredicate  (element-wise predicate)
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .joins import required_minus_data
from .predicates import (
    Predicate,
    compile_predicate,
    compile_row_predicate,
    is_numeric_scalar,
)
from .session import local_frame

CORE_COLS = ["kind", "group_key", "doc_id", "value", "expected", "deviation", "detail"]

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _is_numeric_col(df, col_name):
    for f in df.schema.fields:
        if f.name == col_name:
            return isinstance(f.dataType, _NUMERIC_TYPES)
    return False


def _str(col):
    """Stringify a value column for the canonical violation schema."""
    return col.cast("string")


def _empty_core(spark):
    schema = T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("group_key", T.StringType()),
            T.StructField("doc_id", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("expected", T.StringType()),
            T.StructField("deviation", T.DoubleType()),
            T.StructField("detail", T.MapType(T.StringType(), T.StringType())),
        ]
    )
    return local_frame(spark, [], schema)


def _core_select(
    df,
    kind,
    value,
    expected=None,
    deviation=None,
    group_key=None,
    doc_id=None,
):
    """Project a violating-rows DataFrame onto the core violation columns."""
    return df.select(
        (kind if isinstance(kind, F.Column) else F.lit(kind)).alias("kind"),
        (group_key if group_key is not None else F.lit(None).cast("string")).alias(
            "group_key"
        ),
        (doc_id if doc_id is not None else F.lit(None).cast("string")).alias("doc_id"),
        _str(value).alias("value"),
        (
            _str(expected)
            if expected is not None
            else F.lit(None).cast("string")
        ).alias("expected"),
        (
            deviation.cast("double")
            if deviation is not None
            else F.lit(None).cast("double")
        ).alias("deviation"),
        F.lit(None).cast(T.MapType(T.StringType(), T.StringType())).alias("detail"),
    )


def _union_all(plans):
    out = None
    for p in plans:
        out = p if out is None else out.unionByName(p)
    return out


class BaseRequirement(object):
    """A requirement compiles (df, value columns) -> core-violations plan."""

    def violations(self, df: DataFrame, columns=None, id_col=None, group_col=None):
        raise NotImplementedError

    @staticmethod
    def _value_cols(df, columns):
        if columns is None:
            return list(df.columns)
        if isinstance(columns, str):
            return [columns]
        return list(columns)


class RequiredPredicate(BaseRequirement):
    """Element-wise predicate requirement (V2–V6; ref RequiredPredicate).

    A failing *numeric* element against a numeric scalar requirement
    materializes a Deviation(actual - expected, expected); every other
    failure is Invalid. ``show_expected`` attaches the expected value to
    Invalid rows (the reference does this inside mapping requirements).
    """

    def __init__(self, predicate, show_expected=False):
        self.predicate = predicate
        self.show_expected = show_expected

    def violations(self, df, columns=None, id_col=None, group_col=None):
        cols = self._value_cols(df, columns)
        if group_col is not None and group_col in cols:
            cols = [c for c in cols if c != group_col]
        if id_col is not None and id_col in cols and len(cols) > 1:
            cols = [c for c in cols if c != id_col]

        pred_obj = self.predicate
        inner = pred_obj.obj if isinstance(pred_obj, Predicate) else pred_obj

        gk = _str(F.col(group_col)) if group_col else None
        did = _str(F.col(id_col)) if id_col else None

        if isinstance(inner, tuple) and len(cols) > 1:
            dt_map = dict(df.dtypes)
            ok = compile_row_predicate(
                pred_obj, [F.col(c) for c in cols],
                dtypes=[dt_map.get(c) for c in cols],
            )
            bad = df.filter(~F.coalesce(ok, F.lit(False)))
            value = F.to_json(F.struct(*[F.col(c) for c in cols]))
            return _core_select(bad, "invalid", value, group_key=gk, doc_id=did)

        if len(cols) != 1:
            raise ValueError(
                "predicate requirement needs 1 value column, got {0}".format(cols)
            )
        c = F.col(cols[0])

        if callable(inner) and not isinstance(inner, type) and not hasattr(inner, "pattern"):
            from .operators.rowpred import callable_violations

            return callable_violations(
                df, cols[0], pred_obj, id_col=id_col, group_col=group_col
            )

        ok = compile_predicate(pred_obj, c, dtype=dict(df.dtypes).get(cols[0]))
        bad = df.filter(~F.coalesce(ok, F.lit(False)))

        negated = isinstance(pred_obj, Predicate) and pred_obj._negated
        if is_numeric_scalar(inner) and not negated and _is_numeric_col(df, cols[0]):
            # Deviation path: numeric actual vs numeric expected.
            dev = c.cast("double") - F.lit(float(inner))
            return _core_select(
                bad.filter(c.isNotNull()),
                "deviation",
                c,
                expected=F.lit(inner),
                deviation=dev,
                group_key=gk,
                doc_id=did,
            ).unionByName(
                # null actual vs numeric expected -> Deviation(-expected,
                # expected); a zero expected has no expressible non-zero
                # deviation, so those nulls surface as Invalid instead
                _core_select(
                    bad.filter(c.isNull()),
                    "deviation" if float(inner) != 0 else "invalid",
                    c,
                    expected=F.lit(inner),
                    deviation=(
                        F.lit(-float(inner)) if float(inner) != 0 else None
                    ),
                    group_key=gk,
                    doc_id=did,
                )
            )
        expected = None
        if self.show_expected and not negated and not isinstance(inner, (set, frozenset)):
            exp_lit = getattr(inner, "pattern", inner)
            if isinstance(exp_lit, (str, int, float, bool)):
                expected = F.lit(exp_lit)
        return _core_select(bad, "invalid", c, expected=expected, group_key=gk, doc_id=did)


class RequiredSet(BaseRequirement):
    """Whole-group distinct-membership equality (V7; ref RequiredSet).

    Missing = required values absent from the data's distinct set (J2);
    Extra = distinct data values outside the requirement (J1). Both sides
    are broadcast anti-joins so the plan scales: the data side aggregates
    to its distinct values first (map-side partial aggregation), the
    requirement side is a broadcast literal table.
    """

    def __init__(self, required, missing=True, extra=True):
        self.required = set(required)
        self.missing = missing
        self.extra = extra

    def violations(self, df, columns=None, id_col=None, group_col=None):
        cols = self._value_cols(df, columns)
        if group_col is not None and group_col in cols:
            cols = [c for c in cols if c != group_col]
        if id_col is not None and id_col in cols and len(cols) > 1:
            cols = [c for c in cols if c != id_col]
        if len(cols) != 1:
            raise ValueError("set requirement needs 1 value column, got {0}".format(cols))
        col = cols[0]
        spark = df.sparkSession

        group_cols = [group_col] if group_col else []
        distinct = df.select(*group_cols, col).distinct()

        req_rows = [(v,) for v in sorted(self.required, key=repr)]
        req_df = spark.createDataFrame(req_rows, schema=distinct.select(col).schema)
        if group_col:
            keys = df.select(group_col).distinct()
            req_df = keys.crossJoin(F.broadcast(req_df))

        plans = []
        on = [distinct[c].eqNullSafe(req_df[c]) for c in ([col] + group_cols)]
        cond = on[0]
        for c in on[1:]:
            cond = cond & c
        if self.extra:
            extra = distinct.join(F.broadcast(req_df), cond, "left_anti")
            plans.append(
                _core_select(
                    extra,
                    "extra",
                    F.col(col),
                    group_key=_str(F.col(group_col)) if group_col else None,
                )
            )
        if self.missing:
            missing = required_minus_data(
                req_df, distinct, [col] + group_cols, null_safe=True
            )
            plans.append(
                _core_select(
                    missing,
                    "missing",
                    F.col(col),
                    group_key=_str(F.col(group_col)) if group_col else None,
                )
            )
        return _union_all(plans) if plans else _empty_core(spark)


class RequiredSubset(RequiredSet):
    """data ⊆ requirement → Extra rows only (V8)."""

    def __init__(self, required):
        super().__init__(required, missing=False, extra=True)


class RequiredSuperset(RequiredSet):
    """data ⊇ requirement → Missing rows only (V9)."""

    def __init__(self, required):
        super().__init__(required, missing=True, extra=False)


class RequiredUnique(BaseRequirement):
    """No duplicate elements (V10; ref RequiredUnique / SURVEY A8).

    One Extra row per *surplus* occurrence (count - 1 multiplicity),
    generated with explode(sequence()) so no per-row Python and no
    collect. The aggregation benefits from partial map-side combine.
    """

    def violations(self, df, columns=None, id_col=None, group_col=None):
        cols = self._value_cols(df, columns)
        if group_col is not None and group_col in cols:
            cols = [c for c in cols if c != group_col]
        # the row-identity column must not participate in the duplicate
        # grouping — it is unique by construction, so including it makes
        # every group count 1 and duplicates pass silently
        if id_col is not None and id_col in cols and len(cols) > 1:
            cols = [c for c in cols if c != id_col]
        group_cols = [group_col] if group_col else []
        counts = (
            df.groupBy(*group_cols, *cols)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
        )
        surplus = counts.withColumn(
            "_dup", F.explode(F.sequence(F.lit(1), F.col("_n") - 1))
        )
        value = (
            F.to_json(F.struct(*[F.col(c) for c in cols]))
            if len(cols) > 1
            else F.col(cols[0])
        )
        return _core_select(
            surplus,
            "extra",
            value,
            group_key=_str(F.col(group_col)) if group_col else None,
        )


class RequiredOrder(BaseRequirement):
    """Order-sensitive sequence compare (V11; ref RequiredOrder, SURVEY O1).

    Positional alignment: both sides are indexed and full-outer joined on
    (group, index); mismatched pairs yield Extra((index, actual)) and
    Missing((index, expected)) two-tuples, matching the reference's
    (index, value) difference args.

    Scale caveat (SURVEY §7.3.2): a *global* order over a distributed
    table requires an explicit ``order_by`` column; without one this
    operator coalesces to a single partition and is only valid for small
    or per-group data. The reference assumes in-memory sequences, so this
    restriction is inherent, not incidental.
    """

    def __init__(self, sequence, order_by=None):
        self.sequence = list(sequence)
        self.order_by = order_by

    def differences_python(self, data):
        """Driver-side exact reference semantics for in-memory sequences:
        difflib.SequenceMatcher opcodes -> Extra/Missing((index, value))
        (the reference aligns with difflib, not positionally; the Spark
        plan below is the documented positional scale variant)."""
        from difflib import SequenceMatcher

        from .differences import Extra, Missing

        data = list(data)
        matcher = SequenceMatcher(None, data, self.sequence)
        diffs = []
        for tag, i1, i2, j1, j2 in matcher.get_opcodes():
            if tag in ("delete", "replace"):
                for i in range(i1, i2):
                    diffs.append(Extra((i, data[i])))
            if tag in ("insert", "replace"):
                for j in range(j1, j2):
                    diffs.append(Missing((i1, self.sequence[j])))
        return diffs

    def violations(self, df, columns=None, id_col=None, group_col=None):
        cols = self._value_cols(df, columns)
        if group_col is not None and group_col in cols:
            cols = [c for c in cols if c != group_col]
        if self.order_by and self.order_by in cols and len(cols) > 1:
            cols = [c for c in cols if c != self.order_by]
        if id_col is not None and id_col in cols and len(cols) > 1:
            cols = [c for c in cols if c != id_col]
        if len(cols) != 1:
            raise ValueError("order requirement needs 1 value column")
        col = cols[0]
        spark = df.sparkSession

        if self.order_by is not None:
            w = Window.orderBy(F.col(self.order_by))
            data_idx = df.select(
                (F.row_number().over(w) - 1).alias("_idx"), F.col(col).alias("_actual")
            )
        else:
            data_idx = (
                df.coalesce(1)
                .select(col)
                .withColumn("_idx", F.monotonically_increasing_id())
                .select("_idx", F.col(col).alias("_actual"))
            )
        # presence markers: a null VALUE at an index must not read as "no
        # row at this index" after the full-outer join (the old
        # _actual.isNotNull() filter silently dropped null-valued rows)
        data_idx = data_idx.withColumn("_has_a", F.lit(True))

        req_df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(self.sequence)],
            schema=T.StructType(
                [
                    T.StructField("_idx", T.LongType()),
                    data_idx.schema["_actual"],
                ]
            ),
        ).withColumnRenamed("_actual", "_expected").withColumn(
            "_has_b", F.lit(True)
        )

        joined = data_idx.join(F.broadcast(req_df), "_idx", "full_outer")
        ha = F.coalesce(F.col("_has_a"), F.lit(False))
        hb = F.coalesce(F.col("_has_b"), F.lit(False))
        mismatch = joined.filter(
            (ha != hb) | (ha & hb & ~F.col("_actual").eqNullSafe(F.col("_expected")))
        )

        # ignoreNullFields=false keeps {"index":i,"value":null} distinct
        # from a json with the value key absent
        extra = _core_select(
            mismatch.filter(ha),
            "extra",
            F.to_json(
                F.struct(F.col("_idx").alias("index"), F.col("_actual").alias("value")),
                {"ignoreNullFields": "false"},
            ),
        )
        missing = _core_select(
            mismatch.filter(hb),
            "missing",
            F.to_json(
                F.struct(F.col("_idx").alias("index"), F.col("_expected").alias("value")),
                {"ignoreNullFields": "false"},
            ),
        )
        return extra.unionByName(missing)


class RequiredApprox(BaseRequirement):
    """assertAlmostEqual semantics (V4): round(actual-expected, places)==0
    or abs(actual-expected) <= delta. Failures are Deviations."""

    def __init__(self, expected, places=7, delta=None):
        self.expected = expected
        self.places = places
        self.delta = delta

    def violations(self, df, columns=None, id_col=None, group_col=None):
        cols = self._value_cols(df, columns)
        if group_col is not None and group_col in cols:
            cols = [c for c in cols if c != group_col]
        if id_col is not None and id_col in cols and len(cols) > 1:
            cols = [c for c in cols if c != id_col]
        if len(cols) != 1:
            raise ValueError("approx requirement needs 1 value column")
        c = F.col(cols[0]).cast("double")
        dev = c - F.lit(float(self.expected))
        if self.delta is not None:
            ok = F.abs(dev) <= F.lit(float(self.delta))
        else:
            ok = F.round(dev, self.places) == 0
        bad = df.filter(~F.coalesce(ok, F.lit(False)))
        return _core_select(
            bad,
            "deviation",
            c,
            expected=F.lit(self.expected),
            deviation=F.coalesce(dev, F.lit(-float(self.expected))),
            group_key=_str(F.col(group_col)) if group_col else None,
            doc_id=_str(F.col(id_col)) if id_col else None,
        )


class RequiredInterval(BaseRequirement):
    """min <= value <= max (V6); Deviation is relative to the nearest bound."""

    def __init__(self, lower=None, upper=None):
        if lower is None and upper is None:
            raise ValueError("interval requires at least one bound")
        self.lower = lower
        self.upper = upper

    def violations(self, df, columns=None, id_col=None, group_col=None):
        cols = self._value_cols(df, columns)
        if group_col is not None and group_col in cols:
            cols = [c for c in cols if c != group_col]
        if id_col is not None and id_col in cols and len(cols) > 1:
            cols = [c for c in cols if c != id_col]
        if len(cols) != 1:
            raise ValueError("interval requirement needs 1 value column")
        c = F.col(cols[0])
        numeric = _is_numeric_col(df, cols[0])
        conds = []
        if self.lower is not None:
            conds.append(c >= F.lit(self.lower))
        if self.upper is not None:
            conds.append(c <= F.lit(self.upper))
        ok = conds[0]
        for x in conds[1:]:
            ok = ok & x
        bad = df.filter(~F.coalesce(ok, F.lit(False)))
        gk = _str(F.col(group_col)) if group_col else None
        did = _str(F.col(id_col)) if id_col else None
        if not numeric:
            nearest = None
            if self.lower is not None and self.upper is not None:
                nearest = F.when(c < F.lit(self.lower), F.lit(self.lower)).otherwise(
                    F.lit(self.upper)
                )
            else:
                nearest = F.lit(self.lower if self.lower is not None else self.upper)
            return _core_select(
                bad, "invalid", c, expected=nearest, group_key=gk, doc_id=did
            )
        lo = float(self.lower) if self.lower is not None else None
        hi = float(self.upper) if self.upper is not None else None
        nearest = (
            F.when(c.cast("double") < F.lit(lo), F.lit(lo)).otherwise(F.lit(hi))
            if (lo is not None and hi is not None)
            else F.lit(lo if lo is not None else hi)
        )
        dev = c.cast("double") - nearest
        # null values fail the interval but have no numeric deviation —
        # they surface as Invalid rows (Deviation(None, e) is unbuildable)
        dev_rows = _core_select(
            bad.filter(c.isNotNull()), "deviation", c, expected=nearest,
            deviation=dev, group_key=gk, doc_id=did,
        )
        null_rows = _core_select(
            bad.filter(c.isNull()), "invalid", c, expected=nearest,
            group_key=gk, doc_id=did,
        )
        return dev_rows.unionByName(null_rows)


class RequiredFuzzy(BaseRequirement):
    """difflib.SequenceMatcher ratio >= cutoff (V5).

    Exact reference parity needs difflib, which is Python — so this is a
    *vectorized* pandas UDF (Arrow batches), the sanctioned slow path.
    The acceptance layer reuses the same kernel on violations only.
    """

    def __init__(self, expected, cutoff=0.6):
        self.expected = expected
        self.cutoff = cutoff

    def violations(self, df, columns=None, id_col=None, group_col=None):
        from .functions.fuzzy import fuzzy_ratio_udf

        cols = self._value_cols(df, columns)
        if group_col is not None and group_col in cols:
            cols = [c for c in cols if c != group_col]
        if id_col is not None and id_col in cols and len(cols) > 1:
            cols = [c for c in cols if c != id_col]
        if len(cols) != 1:
            raise ValueError("fuzzy requirement needs 1 value column")
        c = F.col(cols[0])
        ratio = fuzzy_ratio_udf(c, F.lit(self.expected))
        bad = df.filter(~F.coalesce(ratio >= F.lit(self.cutoff), F.lit(False)))
        return _core_select(
            bad,
            "invalid",
            c,
            expected=F.lit(self.expected),
            group_key=_str(F.col(group_col)) if group_col else None,
            doc_id=_str(F.col(id_col)) if id_col else None,
        )


class RequiredMapping(BaseRequirement):
    """Per-group-key requirements: ``{key: requirement}`` (ref RequiredMapping).

    The group key is a data column (never a Python dict key — SURVEY §1.1).
    Compile strategy:
      * all-scalar mapping  -> one broadcast join against a requirements
        table, Deviation/Invalid chosen per row (single distributed plan);
      * all-set mapping     -> exploded requirement table + two anti-joins;
      * anything else       -> per-key sub-plans unioned (requirement dicts
        are driver-side small by construction).
    Keys present only in the requirement yield Missing/Deviation(-x, x);
    keys present only in the data yield Extra rows per element.
    """

    def __init__(self, mapping):
        self.mapping = dict(mapping)

    def violations(self, df, columns=None, id_col=None, group_col=None):
        if group_col is None:
            cols = self._value_cols(df, columns)
            group_col = cols[0]
            value_cols = cols[1:]
        else:
            cols = self._value_cols(df, columns)
            value_cols = [c for c in cols if c != group_col]
        if id_col is not None and id_col in value_cols and len(value_cols) > 1:
            value_cols = [c for c in value_cols if c != id_col]
        if len(value_cols) != 1:
            raise ValueError(
                "mapping requirement needs (key, value) columns, got {0}".format(cols)
            )
        vcol = value_cols[0]
        spark = df.sparkSession
        gk = F.col(group_col)

        all_scalar = all(
            isinstance(v, (str, bytes, bool)) or is_numeric_scalar(v)
            for v in self.mapping.values()
        )
        all_sets = all(isinstance(v, (set, frozenset)) for v in self.mapping.values())

        plans = []

        # Extra rows for data keys with no requirement entry.
        req_keys = spark.createDataFrame(
            [(k,) for k in self.mapping], schema=df.select(group_col).schema
        )
        extra_keys = df.join(F.broadcast(req_keys), group_col, "left_anti")
        plans.append(
            _core_select(
                extra_keys,
                "extra",
                F.col(vcol),
                group_key=_str(gk),
                doc_id=_str(F.col(id_col)) if id_col else None,
            )
        )

        data_keys_df = df.select(group_col).distinct()

        if all_scalar:
            rows = [(k, v) for k, v in self.mapping.items()]
            req_schema = T.StructType(
                [df.select(group_col).schema[0], df.select(vcol).schema[0]]
            )
            # mixed-type scalars: fall back to per-key plans
            try:
                req_df = spark.createDataFrame(rows, schema=req_schema)
            except Exception:
                req_df = None
            if req_df is not None:
                req_df = req_df.withColumnRenamed(vcol, "_expected")
                joined = df.join(F.broadcast(req_df), group_col, "inner")
                bad = joined.filter(
                    ~F.col(vcol).eqNullSafe(F.col("_expected"))
                )
                numeric = _is_numeric_col(df, vcol)
                if numeric:
                    dev = F.col(vcol).cast("double") - F.col("_expected").cast("double")
                    plans.append(
                        _core_select(
                            bad.filter(F.col(vcol).isNotNull()),
                            "deviation",
                            F.col(vcol),
                            expected=F.col("_expected"),
                            deviation=dev,
                            group_key=_str(gk),
                            doc_id=_str(F.col(id_col)) if id_col else None,
                        )
                    )
                    # null actual vs numeric expected -> Deviation(-x, x);
                    # a zero expected has no expressible non-zero deviation
                    # (Deviation(0, 0) is unbuildable), so those rows
                    # surface as Invalid — same rule as RequiredPredicate
                    exp_d = F.col("_expected").cast("double")
                    plans.append(
                        _core_select(
                            bad.filter(F.col(vcol).isNull() & (exp_d != 0)),
                            "deviation",
                            F.col(vcol),
                            expected=F.col("_expected"),
                            deviation=-exp_d,
                            group_key=_str(gk),
                            doc_id=_str(F.col(id_col)) if id_col else None,
                        )
                    )
                    plans.append(
                        _core_select(
                            bad.filter(F.col(vcol).isNull() & (exp_d == 0)),
                            "invalid",
                            F.col(vcol),
                            expected=F.col("_expected"),
                            group_key=_str(gk),
                            doc_id=_str(F.col(id_col)) if id_col else None,
                        )
                    )
                else:
                    plans.append(
                        _core_select(
                            bad,
                            "invalid",
                            F.col(vcol),
                            expected=F.col("_expected"),
                            group_key=_str(gk),
                            doc_id=_str(F.col(id_col)) if id_col else None,
                        )
                    )
                # required-only keys: Deviation(-x, x) for numeric, Missing(x)
                # else; a zero numeric expected falls back to Missing(0)
                # (Deviation(0, 0) is unbuildable). null_safe=False keeps
                # the sibling name-joins' semantics: null keys never align.
                absent = required_minus_data(
                    req_df, data_keys_df, [group_col], null_safe=False
                )
                if numeric:
                    exp_d = F.col("_expected").cast("double")
                    plans.append(
                        _core_select(
                            absent.filter(exp_d != 0),
                            "deviation",
                            F.lit(None),
                            expected=F.col("_expected"),
                            deviation=-exp_d,
                            group_key=_str(gk),
                        )
                    )
                    plans.append(
                        _core_select(
                            absent.filter(exp_d == 0),
                            "missing",
                            F.col("_expected"),
                            group_key=_str(gk),
                        )
                    )
                else:
                    plans.append(
                        _core_select(
                            absent, "missing", F.col("_expected"), group_key=_str(gk)
                        )
                    )
                return _union_all(plans)

        if all_sets:
            rows = [(k, v) for k, members in self.mapping.items() for v in members]
            req_schema = T.StructType(
                [df.select(group_col).schema[0], df.select(vcol).schema[0]]
            )
            req_df = spark.createDataFrame(rows, schema=req_schema)
            distinct = df.select(group_col, vcol).distinct()
            cond = distinct[group_col].eqNullSafe(req_df[group_col]) & distinct[
                vcol
            ].eqNullSafe(req_df[vcol])
            extra = distinct.join(F.broadcast(req_df), cond, "left_anti")
            plans.append(
                _core_select(extra, "extra", F.col(vcol), group_key=_str(gk))
            )
            # missing: required members absent from that key's data (keys with
            # no data at all also land here, as pure Missing rows).
            missing = required_minus_data(
                req_df, distinct, [group_col, vcol], null_safe=True
            )
            plans.append(
                _core_select(missing, "missing", F.col(vcol), group_key=_str(gk))
            )
            return _union_all(plans)

        # Generic fallback: per-key sub-plans (requirement dicts are small;
        # heterogeneous sub-requirements can't share one join). Absent-key
        # handling for generic subs is covered by the scalar/set fast
        # paths above — mixed dicts validate present keys only.
        for key, sub in self.mapping.items():
            sub_req = get_requirement(sub, in_mapping=True)
            sub_df = df.filter(gk.eqNullSafe(F.lit(key)))
            plan = sub_req.violations(sub_df, columns=[vcol], id_col=id_col)
            plans.append(plan.withColumn("group_key", F.lit(str(key))))
        return _union_all(plans)


def get_requirement(obj, in_mapping=False):
    """Requirement dispatch (ref:datatest get_requirement; SURVEY §3.1)."""
    if isinstance(obj, BaseRequirement):
        return obj
    if isinstance(obj, (set, frozenset)):
        return RequiredSet(obj)
    if isinstance(obj, Mapping):
        return RequiredMapping(obj)
    if isinstance(obj, list):
        return RequiredOrder(obj)
    return RequiredPredicate(obj, show_expected=in_mapping)
