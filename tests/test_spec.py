"""Declarative suite specs (plans/spec.py): spec-built suites must be
verdict-identical to code-built ones, DataFrame references must resolve
loudly, and every structural error must raise SpecError at build time."""

import json

import pytest
from pyspark.sql import types as T

from datatest_spark.operators.drift import histogram
from datatest_spark.plans.spec import (
    SpecError,
    suite_from_spec,
    suite_from_spec_file,
    _parse_type,
)
from datatest_spark.plans.suite import north_star_suite
from datatest_spark.sources.synth import ALLOWED_SOURCES, tokenized_sequences

N = 2000

# the north-star suite, as data (mirrors north_star_suite's defaults)
NORTH_SPEC = {
    "partition_cols": ["source"],
    "checks": [
        {"type": "schema_conformance", "fields": [
            {"name": "doc_id", "type": "string"},
            {"name": "tokens", "type": "array<int>"},
            {"name": "n_tok", "type": "int"},
            {"name": "source", "type": "string"},
        ]},
        {"type": "null_rate", "max_null_rate": {
            "doc_id": 0.01, "n_tok": 0.01, "source": 0.01}},
        {"type": "stat_interval", "bounds": {
            "n_tok__min": [1.0, None], "n_tok__max": [None, 4096.0]}},
        {"type": "uniqueness", "column": "doc_id"},
        {"type": "referential", "column": "source",
         "allowed": list(ALLOWED_SOURCES)},
        {"type": "consistency"},
        {"type": "token_range", "vocab_size": 50257},
    ],
}


@pytest.fixture(scope="module")
def seqs(spark):
    df = tokenized_sequences(spark, N, seed=7, dup_rate=0.002,
                             len_mismatch_rate=0.002, bad_source_rate=0.002,
                             null_rate=0.001)
    df.persist().count()
    return df


def verdict_set(res):
    return sorted(
        (r["partition_key"], r["check_id"], r["status"], r["n_violations"])
        for r in res.verdicts.collect()
    )


class TestTypeGrammar:
    def test_atomics_and_containers(self):
        assert _parse_type("string") == T.StringType()
        assert _parse_type("BIGINT") == T.LongType()
        assert _parse_type("array<int>") == T.ArrayType(T.IntegerType())
        assert _parse_type("map<string, double>") == T.MapType(
            T.StringType(), T.DoubleType())
        assert _parse_type("array<map<string,array<long>>>") == T.ArrayType(
            T.MapType(T.StringType(), T.ArrayType(T.LongType())))

    def test_unknown_type_raises(self):
        with pytest.raises(SpecError, match="unknown column type"):
            _parse_type("structish")
        with pytest.raises(SpecError, match="two comma-separated"):
            _parse_type("map<string>")


class TestNorthStarParity:
    def test_spec_matches_code_built_suite(self, spark, seqs):
        code = north_star_suite(ALLOWED_SOURCES)
        spec = suite_from_spec(NORTH_SPEC)
        r_code = code.run(seqs, run_id="parity")
        r_spec = spec.run(seqs, run_id="parity")
        assert verdict_set(r_code) == verdict_set(r_spec)

    def test_spec_acceptance_matches_code(self, spark, seqs):
        from datatest_spark import accepted
        from datatest_spark.differences import Extra

        code = north_star_suite(
            ALLOWED_SOURCES, acceptances=[accepted(Extra("spam"))])
        spec_d = dict(NORTH_SPEC)
        spec_d["acceptances"] = [
            {"type": "instance", "class": "Extra", "args": ["spam"]}]
        spec = suite_from_spec(spec_d)
        assert verdict_set(code.run(seqs, run_id="acc")) == \
            verdict_set(spec.run(seqs, run_id="acc"))

    def test_drift_baseline_ref_resolves(self, spark, seqs):
        base = histogram(seqs, "n_tok", lo=0.0, hi=4096.0, nbins=32)
        spec_d = dict(NORTH_SPEC)
        spec_d["checks"] = spec_d["checks"] + [
            {"type": "drift", "baseline": "@baseline"}]
        suite = suite_from_spec(spec_d, dataframes={"baseline": base})
        res = suite.run(seqs, run_id="drift")
        # baseline == data: drift must pass everywhere it is evaluated
        drift = [r for r in res.verdicts.collect()
                 if r["check_id"] == "distribution_drift"]
        assert drift and all(r["status"] == "pass" for r in drift)

    def test_spec_file_round_trip(self, spark, seqs, tmp_path):
        p = tmp_path / "suite.json"
        p.write_text(json.dumps(NORTH_SPEC))
        suite = suite_from_spec_file(str(p))
        res = suite.run(seqs, run_id="file")
        assert res.verdicts.count() > 0


class TestSpecErrors:
    def test_unknown_check_type(self):
        with pytest.raises(SpecError, match="unknown check type"):
            suite_from_spec({"checks": [{"type": "nonsense"}]})

    def test_unknown_acceptance_type(self):
        with pytest.raises(SpecError, match="unknown acceptance type"):
            suite_from_spec({
                "checks": [{"type": "uniqueness"}],
                "acceptances": [{"type": "vibes"}],
            })

    def test_missing_dataframe_ref(self):
        with pytest.raises(SpecError, match="@baseline"):
            suite_from_spec({"checks": [
                {"type": "drift", "baseline": "@baseline"}]})

    def test_unknown_suite_key_is_loud(self):
        # a typo'd top-level key must not be silently ignored
        with pytest.raises(SpecError, match="unknown suite keys"):
            suite_from_spec({"checks": [{"type": "uniqueness"}],
                             "partiton_cols": ["source"]})

    def test_quantiles_key_is_loud(self):
        # the stats pass computes what the checks declare; a spec cannot
        # ask it for more
        with pytest.raises(SpecError, match="unknown suite keys"):
            suite_from_spec({"checks": [{"type": "uniqueness"}],
                             "quantiles": [0.5]})

    def test_uniqueness_has_no_exact_option(self):
        # uniqueness is always exact; "exact": false once built a check
        # whose every partition read "pass"
        with pytest.raises(SpecError, match="exact"):
            suite_from_spec({"checks": [
                {"type": "uniqueness", "exact": False}]})

    def test_empty_checks(self):
        with pytest.raises(SpecError, match="non-empty 'checks'"):
            suite_from_spec({"checks": []})

    def test_bad_bounds_pair(self):
        with pytest.raises(SpecError, match="pair"):
            suite_from_spec({"checks": [
                {"type": "stat_interval", "bounds": {"n_tok__min": [1]}}]})

    def test_bad_json_file(self, tmp_path):
        p = tmp_path / "bad.json"
        p.write_text("{not json")
        with pytest.raises(SpecError, match="not valid JSON"):
            suite_from_spec_file(str(p))

    def test_unknown_difference_class(self):
        with pytest.raises(SpecError, match="unknown difference class"):
            suite_from_spec({
                "checks": [{"type": "uniqueness"}],
                "acceptances": [{"type": "class", "class": "ValidationError"}],
            })


class TestDeclarativeAcceptances:
    def test_keys_in_list(self, spark, seqs):
        # keys predicate as set membership: accept only the doc_id column
        spec_d = dict(NORTH_SPEC)
        spec_d["acceptances"] = [{"type": "keys", "in": ["doc_id"]}]
        suite = suite_from_spec(spec_d)
        res = suite.run(seqs, run_id="keys")
        # uniqueness violations key on doc_id's value-group; the suite
        # builds fine and produces verdicts — semantic behavior of
        # AcceptedKeys itself is pinned in test_acceptances.py
        assert res.verdicts.count() > 0

    def test_union_composition(self, spark, seqs):
        from datatest_spark import accepted
        from datatest_spark.differences import Extra, Missing

        code = north_star_suite(
            ALLOWED_SOURCES,
            acceptances=[accepted(Extra) | accepted(Missing)])
        spec_d = dict(NORTH_SPEC)
        spec_d["acceptances"] = [{"type": "union", "of": [
            {"type": "class", "class": "Extra"},
            {"type": "class", "class": "Missing"},
        ]}]
        spec = suite_from_spec(spec_d)
        assert verdict_set(code.run(seqs, run_id="u")) == \
            verdict_set(spec.run(seqs, run_id="u"))

    def test_combined_needs_two(self):
        with pytest.raises(SpecError, match=">= 2"):
            suite_from_spec({
                "checks": [{"type": "uniqueness"}],
                "acceptances": [{"type": "union", "of": [
                    {"type": "class", "class": "Extra"}]}],
            })
