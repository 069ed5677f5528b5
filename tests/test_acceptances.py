"""Acceptance semantics T1–T13 (SURVEY.md §2.7; ref tests/test_acceptances.py).

Driver-side truth tables first (the spec), then a distributed-parity
section: the same acceptance applied to a violations DataFrame must keep
exactly the rows the driver-side filter keeps (SURVEY §5.2.1).
"""

import pytest
from pyspark.sql import functions as F

from datatest_spark import (
    Deviation,
    Extra,
    Invalid,
    Missing,
    ValidationError,
    accepted,
    validate,
)
from datatest_spark.schema import VIOLATION_SCHEMA


@pytest.fixture(autouse=True)
def _spark(spark):
    return spark


class TestDriverSide:
    def test_instance_absorbs_all_matching(self):
        with accepted(Missing("a")):
            raise ValidationError([Missing("a"), Missing("a")])

    def test_instance_reraises_rest(self):
        with pytest.raises(ValidationError) as exc:
            with accepted(Missing("a")):
                raise ValidationError([Missing("a"), Extra("b")])
        assert exc.value.differences == [Extra("b")]

    def test_class_absorbs_class(self):
        with accepted(Missing):
            raise ValidationError([Missing("a"), Missing("b")])
        with pytest.raises(ValidationError) as exc:
            with accepted(Missing):
                raise ValidationError([Missing("a"), Extra("b")])
        assert exc.value.differences == [Extra("b")]

    def test_counted_list_absorbs_at_most_once_each(self):
        with pytest.raises(ValidationError) as exc:
            with accepted([Missing("a"), Extra("b")]):
                raise ValidationError([Missing("a"), Missing("a"), Extra("b")])
        assert exc.value.differences == [Missing("a")]

    def test_counted_list_exact(self):
        with accepted([Missing("a"), Missing("a")]):
            raise ValidationError([Missing("a"), Missing("a")])

    def test_mapping_per_key(self):
        with pytest.raises(ValidationError) as exc:
            with accepted({"g1": [Missing("a")], "g2": [Extra("b")]}):
                raise ValidationError(
                    {"g1": [Missing("a"), Missing("a")], "g2": [Extra("b")]}
                )
        assert exc.value.differences == {"g1": [Missing("a")]}

    def test_keys_predicate(self):
        with pytest.raises(ValidationError) as exc:
            with accepted.keys(lambda k: k.startswith("ok")):
                raise ValidationError({"ok1": [Missing("a")], "bad": [Missing("b")]})
        assert exc.value.differences == {"bad": [Missing("b")]}

    def test_args_predicate(self):
        with pytest.raises(ValidationError) as exc:
            with accepted.args(lambda v: v < 5):
                raise ValidationError([Missing(3), Missing(9)])
        assert exc.value.differences == [Missing(9)]

    def test_tolerance_symmetric_inclusive(self):
        with accepted.tolerance(2):
            raise ValidationError([Deviation(2, 10), Deviation(-2, 10)])
        with pytest.raises(ValidationError) as exc:
            with accepted.tolerance(2):
                raise ValidationError([Deviation(3, 10)])
        assert exc.value.differences == [Deviation(3, 10)]

    def test_tolerance_asymmetric(self):
        with accepted.tolerance(0, 5):
            raise ValidationError([Deviation(5, 10)])
        with pytest.raises(ValidationError):
            with accepted.tolerance(0, 5):
                raise ValidationError([Deviation(-1, 10)])

    def test_tolerance_rejects_negative_single(self):
        with pytest.raises(ValueError):
            accepted.tolerance(-2)

    def test_tolerance_ignores_non_deviation(self):
        with pytest.raises(ValidationError):
            with accepted.tolerance(100):
                raise ValidationError([Missing("a")])

    def test_percent(self):
        with accepted.percent(0.2):
            raise ValidationError([Deviation(2, 10), Deviation(-2, 10)])
        with pytest.raises(ValidationError):
            with accepted.percent(0.1):
                raise ValidationError([Deviation(2, 10)])

    def test_percent_zero_expected(self):
        with pytest.raises(ValidationError):
            with accepted.percent(0.5):
                raise ValidationError([Deviation(1, 0)])

    def test_fuzzy_acceptance(self):
        with accepted.fuzzy(cutoff=0.6):
            raise ValidationError([Invalid("kitten", "sitten")])
        with pytest.raises(ValidationError):
            with accepted.fuzzy(cutoff=0.99):
                raise ValidationError([Invalid("kitten", "sitten")])

    def test_count_budget(self):
        with accepted.count(2):
            raise ValidationError([Missing("a"), Extra("b")])
        with pytest.raises(ValidationError) as exc:
            with accepted.count(2):
                raise ValidationError([Missing("a"), Extra("b"), Extra("c")])
        assert len(exc.value.differences) == 1

    def test_intersection(self):
        # both must accept: Missing class AND args < 5
        acc = accepted(Missing) & accepted.args(lambda v: v < 5)
        with pytest.raises(ValidationError) as exc:
            with acc:
                raise ValidationError([Missing(3), Missing(9), Extra(1)])
        assert set(exc.value.differences) == {Missing(9), Extra(1)}

    def test_union(self):
        acc = accepted(Missing) | accepted.args(lambda v: v < 5)
        with pytest.raises(ValidationError) as exc:
            with acc:
                raise ValidationError([Missing(3), Missing(9), Extra(1), Extra(7)])
        assert exc.value.differences == [Extra(7)]

    def test_union_with_budget_left_first(self):
        # list budget on the left consumes before the right predicate sees it
        acc = accepted([Missing("a")]) | accepted(Extra)
        with pytest.raises(ValidationError) as exc:
            with acc:
                raise ValidationError([Missing("a"), Missing("a"), Extra("b")])
        assert exc.value.differences == [Missing("a")]

    def test_intersection_with_budget(self):
        # accept at most 1 diff, and only if it's a Missing
        acc = accepted(Missing) & accepted.count(1)
        with pytest.raises(ValidationError) as exc:
            with acc:
                raise ValidationError([Missing("a"), Missing("b"), Extra("c")])
        assert len(exc.value.differences) == 2

    def test_exception_passthrough_non_validation(self):
        with pytest.raises(ZeroDivisionError):
            with accepted(Missing):
                1 / 0

    def test_with_validate_integration(self):
        with accepted(Extra("x")):
            validate(["a", "x"], {"a"})


def _viol_rows(diffs, group_key=None):
    """Build violation rows for a list of difference objects."""
    rows = []
    for i, d in enumerate(diffs):
        kind = type(d).__name__.lower()
        if isinstance(d, Deviation):
            rows.append(
                ("r", "c", "deviation", None, group_key, str(i), None,
                 str(d.expected) if d.expected is not None else None,
                 float(d.deviation), None)
            )
        else:
            expected = (
                str(d.args[1]) if isinstance(d, Invalid) and len(d.args) > 1 else None
            )
            rows.append(
                ("r", "c", kind, None, group_key, str(i), str(d.args[0]),
                 expected, None, None)
            )
    return rows


class TestDistributedParity:
    """acceptance.apply(violations_df) keeps exactly what the driver-side
    filter keeps, independent of partitioning (C5 determinism)."""

    CASES = [
        ("instance", lambda: accepted(Missing("a")),
         [Missing("a"), Missing("a"), Extra("b")]),
        ("class", lambda: accepted(Extra),
         [Missing("a"), Extra("b"), Extra("c")]),
        ("list_counted", lambda: accepted([Missing("a"), Extra("b")]),
         [Missing("a"), Missing("a"), Extra("b"), Extra("z")]),
        ("tolerance", lambda: accepted.tolerance(2),
         [Deviation(1, 10), Deviation(-2, 10), Deviation(5, 10)]),
        ("percent", lambda: accepted.percent(0.25),
         [Deviation(2, 10), Deviation(4, 10)]),
        ("count", lambda: accepted.count(2),
         [Missing("a"), Missing("b"), Missing("c"), Extra("d")]),
        ("union", lambda: accepted(Missing) | accepted.tolerance(3),
         [Missing("a"), Deviation(2, 9), Deviation(8, 9), Extra("x")]),
        ("intersection", lambda: accepted(Deviation) & accepted.tolerance(3),
         [Deviation(2, 9), Deviation(8, 9), Missing("m")]),
        ("budget_and_pred", lambda: accepted(Missing) & accepted.count(1),
         [Missing("a"), Missing("b"), Extra("c")]),
        ("fuzzy", lambda: accepted.fuzzy(0.6),
         [Invalid("kitten", "sitten"), Invalid("abc", "zzz")]),
        # ADVICE regression: a one-arg Invalid must NOT absorb the two-arg
        # row (arity-sensitive __eq__ parity with the driver filter)
        ("invalid_arity", lambda: accepted(Invalid("a")),
         [Invalid("a"), Invalid("a", "exp"), Invalid("b")]),
    ]

    @pytest.mark.parametrize("name,acc_fn,diffs", CASES, ids=[c[0] for c in CASES])
    def test_parity(self, spark, name, acc_fn, diffs):
        rows = _viol_rows(diffs)
        vdf = spark.createDataFrame(rows, VIOLATION_SCHEMA).repartition(4)

        remaining_dist = acc_fn().apply(vdf)
        kept_dist = sorted(
            (r["kind"], r["value"], r["expected"], r["deviation"])
            for r in remaining_dist.collect()
        )

        remaining_drv = acc_fn().filter_differences(list(diffs))
        rows_drv = _viol_rows(remaining_drv)
        kept_drv = sorted((r[2], r[6], r[7], r[8]) for r in rows_drv)

        assert kept_dist == kept_drv, "distributed != driver for {0}".format(name)

    def test_mapping_distributed(self, spark):
        diffs_g1 = [Missing("a"), Missing("a")]
        diffs_g2 = [Extra("b")]
        rows = _viol_rows(diffs_g1, "g1") + _viol_rows(diffs_g2, "g2")
        vdf = spark.createDataFrame(rows, VIOLATION_SCHEMA).repartition(3)
        acc = accepted({"g1": [Missing("a")], "g2": [Extra("b")]})
        remaining = acc.apply(vdf).collect()
        assert len(remaining) == 1
        assert remaining[0]["group_key"] == "g1"

    def test_determinism_across_partitioning(self, spark):
        diffs = [Missing(str(i % 5)) for i in range(20)]
        rows = _viol_rows(diffs)
        acc = accepted.count(7)
        kept = []
        for nparts in (1, 4, 13):
            vdf = spark.createDataFrame(rows, VIOLATION_SCHEMA).repartition(nparts)
            kept.append(
                sorted(
                    (r["kind"], r["value"], r["doc_id"])
                    for r in acc.apply(vdf).collect()
                )
            )
        assert kept[0] == kept[1] == kept[2]


class TestNoneValueParity:
    """A None value signs as None, not the string 'None': it sorts last
    in the driver-side stable order and matches only NULL value rows,
    as in the distributed form."""

    IDS = ["b", None, "b", None, None, "d", "d"]

    def test_count_with_repeated_null_ids(self, spark):
        from datatest_spark.requirements import RequiredUnique

        with pytest.raises(ValidationError) as ei:
            with accepted.count(2):
                validate.unique(self.IDS)
        kept_drv = sorted(d.args[0] or "<null>" for d in ei.value.differences)
        df = spark.createDataFrame([(v,) for v in self.IDS], "id string")
        vdf = RequiredUnique().violations(df).repartition(3)
        kept_dist = sorted(
            r["value"] or "<null>" for r in accepted.count(2).apply(vdf).collect()
        )
        # nulls last: the budget goes to Extra('b') and Extra('d')
        assert kept_drv == kept_dist == ["<null>", "<null>"]

    @pytest.mark.parametrize("acc_fn", [
        lambda: accepted(Extra(None)),
        lambda: accepted([Extra(None)]),
    ], ids=["instance", "list"])
    def test_none_instance_absorbs_null_rows(self, spark, acc_fn):
        from datatest_spark.requirements import RequiredUnique

        with pytest.raises(ValidationError) as ei:
            with acc_fn():
                validate.unique(self.IDS)
        kept_drv = sorted(d.args[0] or "<null>" for d in ei.value.differences)
        df = spark.createDataFrame([(v,) for v in self.IDS], "id string")
        vdf = RequiredUnique().violations(df)
        kept_dist = sorted(
            r["value"] or "<null>" for r in acc_fn().apply(vdf).collect()
        )
        assert kept_drv == kept_dist


class TestAcceptedArgsDistributed:
    def test_args_predicate_distributed_parity(self, spark):
        diffs = [Missing(3), Missing(9), Extra(1), Deviation(2, 10), Deviation(7, 10)]
        acc = accepted.args(lambda v: isinstance(v, int) and v < 5)
        rows = _viol_rows(diffs)
        vdf = spark.createDataFrame(rows, VIOLATION_SCHEMA).repartition(3)
        kept_dist = sorted(
            (r["kind"], r["value"], r["deviation"]) for r in acc.apply(vdf).collect()
        )
        remaining = accepted.args(lambda v: isinstance(v, int) and v < 5).filter_differences(diffs)
        kept_drv = sorted((r[2], r[6], r[8]) for r in _viol_rows(remaining))
        assert kept_dist == kept_drv


class TestEngineDeviationRowParity:
    """Engine-produced deviation rows carry the actual value in `value`
    (unlike the reference's Deviation args) — counted and instance
    acceptances must still absorb them (review finding)."""

    def _engine_rows(self):
        # mimic requirements._core_select: deviation rows have value set
        return [
            ("r", "c", "deviation", None, None, "0", "12", "10", 2.0, None),
            ("r", "c", "deviation", None, None, "1", "12", "10", 2.0, None),
            ("r", "c", "extra", None, None, "2", "z", None, None, None),
        ]

    def test_counted_list_absorbs_engine_deviations(self, spark):
        vdf = spark.createDataFrame(self._engine_rows(), VIOLATION_SCHEMA)
        acc = accepted([Deviation(2, 10)])
        kept = acc.apply(vdf).collect()
        kinds = sorted(r["kind"] for r in kept)
        assert kinds == ["deviation", "extra"]  # one of two absorbed

    def test_instance_absorbs_engine_deviations(self, spark):
        vdf = spark.createDataFrame(self._engine_rows(), VIOLATION_SCHEMA)
        kept = accepted(Deviation(2, 10)).apply(vdf).collect()
        assert sorted(r["kind"] for r in kept) == ["extra"]

    def test_mapping_budget_engine_deviations(self, spark):
        rows = [
            ("r", "c", "deviation", None, "g1", "0", "12", "10", 2.0, None),
            ("r", "c", "deviation", None, "g1", "1", "12", "10", 2.0, None),
        ]
        vdf = spark.createDataFrame(rows, VIOLATION_SCHEMA)
        kept = accepted({"g1": [Deviation(2, 10)]}).apply(vdf).collect()
        assert len(kept) == 1

    def test_keys_callable_distributed(self, spark):
        rows = [
            ("r", "c", "missing", None, "source=web", "0", "a", None, None, None),
            ("r", "c", "missing", None, "source=code", "1", "b", None, None, None),
        ]
        vdf = spark.createDataFrame(rows, VIOLATION_SCHEMA)
        kept = accepted.keys(lambda k: k.endswith("web")).apply(vdf).collect()
        assert len(kept) == 1 and kept[0]["group_key"] == "source=code"
