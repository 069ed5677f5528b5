"""Suite runner end-to-end (SURVEY §7.1 step 1, §5.2.3-4): synth table →
checks → violations → per-partition verdicts → manifest/resume →
determinism."""

import re

import pytest
from pyspark.sql import functions as F

from datatest_spark import ValidationError, accepted
from datatest_spark.operators.checks import (
    ConsistencyCheck,
    NullRateCheck,
    ReferentialCheck,
    TokenRangeCheck,
    UniquenessCheck,
)
from datatest_spark.operators.drift import DriftCheck, histogram, kl_divergence, psi
from datatest_spark.operators.stats import column_stats
from datatest_spark.plans.suite import ValidationSuite, north_star_suite
from datatest_spark.sources.synth import (
    ALLOWED_SOURCES,
    allowed_sources,
    ref_tokens,
    tokenized_sequences,
)

N = 5000


@pytest.fixture(scope="module")
def seqs(spark):
    df = tokenized_sequences(spark, N, seed=7, dup_rate=0.002,
                             len_mismatch_rate=0.002, bad_source_rate=0.002,
                             null_rate=0.001)
    df.persist().count()
    return df


class TestSynthDeterminism:
    def test_same_seed_same_data(self, spark):
        a = tokenized_sequences(spark, 500, seed=3).orderBy("doc_id").collect()
        b = tokenized_sequences(spark, 500, seed=3).orderBy("doc_id").collect()
        assert a == b

    def test_partitioning_invariant(self, spark):
        a = tokenized_sequences(spark, 500, seed=3, num_partitions=2)
        b = tokenized_sequences(spark, 500, seed=3, num_partitions=7)
        assert a.orderBy("doc_id").collect() == b.orderBy("doc_id").collect()

    def test_skew_present(self, seqs):
        counts = {r["source"]: r["n"] for r in
                  seqs.groupBy("source").agg(F.count("*").alias("n")).collect()}
        assert counts["web"] > 20 * counts.get("forums", 1)


class TestStats:
    def test_wide_agg_shape(self, seqs):
        stats = column_stats(seqs, ("source",), ["doc_id", "n_tok"]).collect()
        pks = {r["partition_key"] for r in stats}
        assert any(pk.startswith("source=web") for pk in pks)
        row = stats[0]
        assert "n_rows" in row and "n_tok__min" in row.asDict()


class TestChecks:
    def test_uniqueness_finds_injected_dups(self, spark, seqs):
        keyed = seqs.withColumn("partition_key", F.lit("all"))
        v = UniquenessCheck("doc_id").violations(keyed)
        n = v.count()
        assert n > 0
        # surplus semantics: duplicates of k occurrences yield k-1 rows
        dup_total = (
            seqs.filter(F.col("doc_id").isNotNull())
            .groupBy("doc_id").count().filter("count > 1")
            .agg(F.sum(F.col("count") - 1)).collect()[0][0]
        )
        assert n == dup_total

    def test_referential_finds_bad_sources(self, spark, seqs):
        keyed = seqs.withColumn("partition_key", F.concat(F.lit("source="), "source"))
        v = ReferentialCheck("source", allowed=ALLOWED_SOURCES).violations(keyed)
        rows = v.collect()
        assert rows and all(r["value"] == "spam" or r["value"] is None for r in rows)
        bad_n = seqs.filter(~F.col("source").isin(ALLOWED_SOURCES)).count()
        assert len(rows) == bad_n

    def test_consistency_mismatches(self, spark, seqs):
        keyed = seqs.withColumn("partition_key", F.lit("all"))
        v = ConsistencyCheck().violations(keyed)
        expected = seqs.filter(
            F.col("tokens").isNotNull() & F.col("n_tok").isNotNull()
            & (F.size("tokens") != F.col("n_tok"))
        ).count()
        assert v.filter("kind = 'deviation'").count() == expected

    def test_token_range_clean(self, spark, seqs):
        keyed = seqs.withColumn("partition_key", F.lit("all"))
        assert TokenRangeCheck().violations(keyed).count() == 0

    def test_token_range_detects(self, spark):
        df = spark.createDataFrame(
            [("a", [1, 2], 2, "web"), ("b", [1, 99999], 2, "web")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        ).withColumn("partition_key", F.lit("all"))
        rows = TokenRangeCheck().violations(df).collect()
        assert len(rows) == 1 and rows[0]["doc_id"] == "b"


class TestDrift:
    def test_histogram_sums_to_one(self, spark, seqs):
        h = histogram(seqs, "n_tok", "source", 0, 2048, 16)
        sums = h.groupBy("group").agg(F.sum("p").alias("s")).collect()
        for r in sums:
            assert abs(r["s"] - 1.0) < 1e-6

    def test_no_drift_against_self(self, spark, seqs):
        base = histogram(seqs, "n_tok", "source", 0, 2048, 16)
        chk = DriftCheck(base, lo=0, hi=2048, nbins=16, metric="psi", threshold=0.05)
        assert chk.drift_violations(seqs) == []

    def test_drift_detected_on_shift(self, spark, seqs):
        base = histogram(seqs, "n_tok", "source", 0, 2048, 16)
        shifted = seqs.withColumn(
            "n_tok",
            F.when(F.col("source") == "web", F.col("n_tok") + 300).otherwise(F.col("n_tok")),
        )
        chk = DriftCheck(base, lo=0, hi=2048, nbins=16, metric="psi", threshold=0.2)
        viols = chk.drift_violations(shifted)
        assert any(v["group_key"] == "web" and v["kind"] == "deviation" for v in viols)

    def test_kl_psi_nonnegative(self):
        p = {1: 0.5, 2: 0.5}
        q = {1: 0.9, 2: 0.1}
        assert kl_divergence(p, q) > 0 and psi(p, q) > 0
        assert abs(kl_divergence(p, p)) < 1e-12

    def test_chi2_stat_hand_value(self):
        from datatest_spark.operators.drift import chi2_stat

        # n=40, e=(20,20): (30-20)^2/20 + (10-20)^2/20 = 10
        assert abs(chi2_stat({1: 30, 2: 10}, {1: 0.5, 2: 0.5}) - 10.0) < 1e-9
        assert chi2_stat({}, {1: 1.0}) == 0.0
        # self-consistent counts -> 0
        assert abs(chi2_stat({1: 20, 2: 20}, {1: 0.5, 2: 0.5})) < 1e-9

    def test_unknown_metric_rejected(self, spark, seqs):
        base = histogram(seqs, "n_tok", "source", 0, 2048, 16)
        with pytest.raises(ValueError, match="metric"):
            DriftCheck(base, metric="chisq", threshold=27.6)

    def test_chi2_requires_explicit_threshold(self, spark, seqs):
        base = histogram(seqs, "n_tok", "source", 0, 2048, 16)
        with pytest.raises(ValueError, match="threshold"):
            DriftCheck(base, metric="chi2")

    def test_chi2_metric_in_drift_check(self, spark, seqs):
        base = histogram(seqs, "n_tok", "source", 0, 2048, 16)
        # chi2 scales with n: use a 95% critical value for ~17 dof
        chk = DriftCheck(base, lo=0, hi=2048, nbins=16,
                         metric="chi2", threshold=27.6)
        assert chk.drift_violations(seqs) == []
        shifted = seqs.withColumn(
            "n_tok",
            F.when(F.col("source") == "web", F.col("n_tok") + 300)
            .otherwise(F.col("n_tok")),
        )
        viols = chk.drift_violations(shifted)
        assert any(
            v["group_key"] == "web" and v["kind"] == "deviation"
            and v["detail"]["metric"] == "chi2"
            for v in viols
        )


class TestSuiteEndToEnd:
    def test_full_run(self, spark, seqs, tmp_path):
        suite = north_star_suite(ALLOWED_SOURCES)
        res = suite.run(seqs, run_id="t1", manifest_dir=str(tmp_path / "m"),
                        violations_sink=str(tmp_path / "v"))
        assert res.n_rows_total == N
        verdicts = {(r["partition_key"], r["check_id"]): r["status"]
                    for r in res.verdicts.collect()}
        # injected defects must fail their checks somewhere
        assert any(s == "fail" for (pk, c), s in verdicts.items() if c == "referential")
        assert any(s == "fail" for (pk, c), s in verdicts.items() if c == "uniqueness")
        assert any(s == "fail" for (pk, c), s in verdicts.items() if c == "n_tok_consistency")
        # clean checks pass
        assert all(s == "pass" for (pk, c), s in verdicts.items() if c == "token_range")
        with pytest.raises(ValidationError):
            res.raise_if_failed()

    def test_clean_data_passes(self, spark, tmp_path):
        clean = tokenized_sequences(spark, 800, seed=11, dup_rate=0,
                                    len_mismatch_rate=0, bad_source_rate=0,
                                    null_rate=0)
        suite = north_star_suite(ALLOWED_SOURCES)
        res = suite.run(clean, run_id="t2")
        assert not res.failed
        res.raise_if_failed()  # no raise

    def test_acceptance_flips_to_accepted(self, spark, seqs):
        from datatest_spark.differences import Extra

        suite = north_star_suite(
            ALLOWED_SOURCES,
            acceptances=[accepted(Extra("spam"))],
        )
        res = suite.run(seqs, run_id="t3")
        statuses = {
            (r["partition_key"], r["check_id"]): r["status"]
            for r in res.verdicts.collect()
        }
        ref = {s for (pk, c), s in statuses.items() if c == "referential" and pk.startswith("source=spam")}
        assert ref == {"accepted"}

    def test_determinism(self, spark, seqs):
        suite = north_star_suite(ALLOWED_SOURCES)
        r1 = suite.run(seqs, run_id="d1")
        r2 = suite.run(seqs, run_id="d1")
        v1 = sorted(map(tuple, r1.violations.drop("run_id", "detail").collect()))
        v2 = sorted(map(tuple, r2.violations.drop("run_id", "detail").collect()))
        assert v1 == v2

    def test_resume_skips_completed(self, spark, seqs, tmp_path):
        mdir = str(tmp_path / "manifest")
        suite = north_star_suite(ALLOWED_SOURCES)
        res1 = suite.run(seqs, run_id="r1", manifest_dir=mdir)
        done = suite.completed_partitions(spark, mdir, "r1")
        assert done  # all partitions recorded
        # resumed run validates nothing new (no fresh stats rows) but
        # still reports the recorded row total — a table-size monitor
        # must not false-alarm on resumed runs
        res2 = suite.run(seqs, run_id="r1", manifest_dir=mdir, resume=True)
        assert res2.stats_rows == []
        assert res2.n_rows_total == res1.n_rows_total

    def test_concurrent_resume_refused_by_lock(self, spark, seqs, tmp_path):
        # single-writer contract: a second invocation of the same run_id
        # while the lock file exists must fail fast — two racing resumes
        # would each read the same skip-set and append duplicate
        # violation rows to the sink
        import os

        mdir = str(tmp_path / "manifest")
        suite = north_star_suite(ALLOWED_SOURCES)
        suite.run(seqs, run_id="lk", manifest_dir=mdir)
        # lock released after a clean run
        lock = suite._lock_path(mdir, "lk")
        assert not os.path.exists(lock)
        # simulate a concurrent holder
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
        with pytest.raises(RuntimeError, match="single-writer"):
            suite.run(seqs, run_id="lk", manifest_dir=mdir, resume=True)
        os.unlink(lock)
        # after the holder finishes, the resume proceeds normally
        res = suite.run(seqs, run_id="lk", manifest_dir=mdir, resume=True)
        assert res.stats_rows == []

    def test_lock_released_when_run_raises(self, spark, seqs, tmp_path,
                                           monkeypatch):
        # an exception inside the run (failed stats job, refused resume,
        # broken sink) must not leave the lock behind — otherwise every
        # CI retry needs manual cleanup
        import os

        mdir = str(tmp_path / "manifest")
        suite = north_star_suite(ALLOWED_SOURCES)

        def boom(*a, **k):
            raise RuntimeError("boom")

        monkeypatch.setattr(suite, "_run_impl", boom)
        with pytest.raises(RuntimeError, match="boom"):
            suite.run(seqs, run_id="lk2", manifest_dir=mdir)
        assert not os.path.exists(suite._lock_path(mdir, "lk2"))

    def test_partial_resume_appends_only_new_partition_rows(
        self, spark, seqs, tmp_path
    ):
        # run 1 records violations for its partitions; a partial resume
        # (new partition appears) must append the NEW partition's rows
        # without wiping or duplicating the recorded ones
        mdir = str(tmp_path / "m")
        sink = str(tmp_path / "v")
        suite = north_star_suite(ALLOWED_SOURCES)
        r1 = suite.run(seqs, run_id="pr", manifest_dir=mdir,
                       violations_sink=sink)
        base = spark.read.parquet(sink + "/run_id=pr")
        n1 = base.count()
        assert n1 > 0
        grown = seqs.unionByName(
            tokenized_sequences(spark, 200, seed=77, dup_rate=0,
                                len_mismatch_rate=0, bad_source_rate=0,
                                null_rate=0)
            .withColumn("source", F.lit("newsrc"))  # genuinely new
        )
        r2 = suite.run(grown, run_id="pr", manifest_dir=mdir,
                       violations_sink=sink)
        after = spark.read.parquet(sink + "/run_id=pr")
        # strictly grew (new bad-source partition rows appended), and
        # the original partitions' rows were not duplicated
        assert after.count() > n1
        pre = {tuple(r) for r in base.drop("detail").collect()}
        post = [tuple(r) for r in after.drop("detail").collect()
                if tuple(r) in pre]
        assert len(post) == len(pre)

    def test_resume_preserves_accepted_status(self, spark, seqs, tmp_path):
        from datatest_spark.differences import Extra

        mdir = str(tmp_path / "m")
        suite = north_star_suite(
            ALLOWED_SOURCES, acceptances=[accepted(Extra("spam"))]
        )
        r1 = suite.run(seqs, run_id="ra", manifest_dir=mdir)
        r2 = suite.run(seqs, run_id="ra", manifest_dir=mdir)
        s1 = {(r["partition_key"], r["check_id"]): r["status"]
              for r in r1.verdicts.collect()}
        s2 = {(r["partition_key"], r["check_id"]): r["status"]
              for r in r2.verdicts.collect()}
        # the resumed re-emission reproduces pass/accepted/fail exactly —
        # pre-acceptance counts are recorded so 'accepted' survives
        assert s1 == s2
        assert "accepted" in set(s2.values())

    def test_token_equality_check(self, spark):
        data = tokenized_sequences(spark, 600, seed=21, dup_rate=0,
                                   len_mismatch_rate=0, bad_source_rate=0,
                                   null_rate=0)
        ref = ref_tokens(spark, 600, seed=21, corrupt_rate=0.02, missing_rate=0.01)
        from datatest_spark.operators.checks import TokenEqualityCheck

        keyed = data.withColumn("partition_key", F.concat(F.lit("source="), "source"))
        v = TokenEqualityCheck(ref).violations(keyed)
        kinds = {r["kind"] for r in v.collect()}
        assert "invalid" in kinds
        n_corrupt = v.filter("kind = 'invalid'").count()
        assert n_corrupt > 0

    @staticmethod
    def _token_equality_oracle(data, ref):
        """Plain-Python answer from the collected frames: a reference id
        absent from the data is missing; a present one whose token list
        differs (None-safe, order- and length-sensitive) is invalid."""
        got = {r["doc_id"]: r["tokens"] for r in data.collect()}
        want = {r["doc_id"]: r["tokens"] for r in ref.collect()}
        return {
            str(i): ("missing" if i not in got else "invalid")
            for i, toks in want.items()
            if i not in got or got[i] != toks
        }

    @staticmethod
    def _token_equality_kinds(data, ref):
        from datatest_spark.operators.rowpred import token_equality_violations

        rows = token_equality_violations(data, ref).collect()
        out = {r["doc_id"]: r["kind"] for r in rows}
        assert len(out) == len(rows)  # one violation per id
        return out

    def test_token_equality_matches_python_oracle(self, spark):
        data = tokenized_sequences(spark, 400, seed=31, dup_rate=0,
                                   len_mismatch_rate=0, bad_source_rate=0, null_rate=0)
        ref = ref_tokens(spark, 400, seed=31, corrupt_rate=0.05, missing_rate=0.0)
        expected = self._token_equality_oracle(data, ref)
        assert len(expected) > 0
        assert self._token_equality_kinds(data, ref) == expected

    def test_token_equality_edge_cases(self, spark):
        schema = "doc_id long, tokens array<int>"
        pairs = {
            1: ([1, 2, 3], [1, 2, 3]),
            2: (None, [1]),             # null array, data side
            3: ([1], None),             # null array, reference side
            4: (None, None),
            5: ([1, None, 3], [1, None, 3]),
            6: ([1, None, 3], [1, 3, None]),  # null element moved
            7: ([None, 5], [5, None]),
            8: ([None], []),
            9: ([], []),
            10: ([], None),
            11: ([1, 2], [1, 2, 3]),    # unequal lengths
            12: ([1, 2, 3], [3, 2, 1]),  # reordered elements
            13: ([1, -1, 2], [1, -1, 2]),
            14: ([1, -1, 2], [1, 2, -1]),
        }
        data = spark.createDataFrame(
            [(i, a) for i, (a, _) in pairs.items()] + [(50, [7])], schema
        )
        # 99 is absent from the data (missing); 50 is absent from the
        # reference (not a violation)
        ref = spark.createDataFrame(
            [(i, b) for i, (_, b) in pairs.items()] + [(99, [7])], schema
        )
        expected = self._token_equality_oracle(data, ref)
        assert expected == {
            "2": "invalid", "3": "invalid", "6": "invalid", "7": "invalid",
            "8": "invalid", "10": "invalid", "11": "invalid",
            "12": "invalid", "14": "invalid", "99": "missing",
        }
        assert self._token_equality_kinds(data, ref) == expected


class TestRowCheckFusion:
    """Fused single-scan row checks produce exactly the violations the
    dedicated per-check plans produce (SURVEY §3.1 family (c))."""

    def test_fused_equals_dedicated(self, spark, seqs):
        from datatest_spark.operators.checks import fuse_row_checks

        keyed = seqs.withColumn(
            "partition_key", F.concat(F.lit("source="), F.coalesce("source", F.lit("null")))
        )
        checks = [
            ConsistencyCheck(),
            TokenRangeCheck(),
            ReferentialCheck("source", allowed=ALLOWED_SOURCES),
        ]
        fused = fuse_row_checks(keyed, checks)
        assert fused is not None
        fused_rows = sorted(
            (r["check_id"], r["kind"], r["doc_id"], r["value"])
            for r in fused.collect()
        )
        dedicated = []
        for c in checks:
            for r in c.violations(keyed).collect():
                dedicated.append((c.check_id, r["kind"], r["doc_id"], r["value"]))
        assert fused_rows == sorted(dedicated)

    def test_fused_is_single_scan(self, spark, seqs):
        from datatest_spark.operators.checks import fuse_row_checks

        keyed = seqs.withColumn("partition_key", F.lit("all"))
        fused = fuse_row_checks(
            keyed, [ConsistencyCheck(), TokenRangeCheck(),
                    ReferentialCheck("source", allowed=ALLOWED_SOURCES)]
        )
        plan = fused._jdf.queryExecution().executedPlan().toString()
        # one scan, no join/exchange in the fused row-check family
        assert "Exchange" not in plan
        assert plan.count("Scan") <= 1
        # the pre-filter over all conditions runs inside whole-stage
        # codegen: no condition holds an interpreted higher-order function
        pre = [ln for ln in plan.splitlines()
               if "Filter" in ln and "array_min" in ln]
        assert len(pre) == 1, plan
        assert re.match(r"^[\s:+-]*\*\(\d+\) Filter ", pre[0]), plan


class TestTokenRangeEdges:
    """The token-range predicate, fused and dedicated, against a
    pure-Python oracle on the array edge cases."""

    VOCAB = 10
    CASES = {
        "empty": [],
        "all_null": [None, None],
        "null_in_range": [3, None, 9],
        "minus_one": [-1],
        "last_id": [VOCAB - 1],
        "vocab": [0, VOCAB],
        "null_array": None,
        "null_next_to_minus_one": [None, -1],
        "clean": [0, 5, VOCAB - 1],
    }

    @classmethod
    def _oracle(cls):
        out = {}
        for doc_id, tokens in cls.CASES.items():
            bad = [t for t in (tokens or [])
                   if t is None or t < 0 or t >= cls.VOCAB]
            if bad:
                out[doc_id] = None if bad[0] is None else str(bad[0])
        return out

    def test_fused_and_dedicated_match_oracle(self, spark):
        from datatest_spark.operators.checks import fuse_row_checks

        df = spark.createDataFrame(
            list(self.CASES.items()), "doc_id string, tokens array<int>"
        ).withColumn("partition_key", F.lit("all"))
        check = TokenRangeCheck(vocab_size=self.VOCAB)
        want = self._oracle()
        assert set(want) == set(self.CASES) - {
            "empty", "last_id", "null_array", "clean"
        }
        for plan in (fuse_row_checks(df, [check]), check.violations(df)):
            got = {r["doc_id"]: r["value"] for r in plan.collect()}
            assert got == want


class TestDriverFrames:
    """Driver-built frames are LocalRelations: reading one runs no job."""

    def test_verdicts_collect_runs_no_job(self, spark, seqs):
        res = north_star_suite(ALLOWED_SOURCES).run(seqs, run_id="nojob")
        sc = spark.sparkContext
        sc.setJobGroup("verdicts-probe", "collect the verdicts")
        try:
            rows = res.verdicts.collect()
        finally:
            sc.setJobGroup("verdicts-probe-done", "")
        res.unpersist()
        assert rows
        assert list(sc.statusTracker().getJobIdsForGroup("verdicts-probe")) == []

    def test_local_frame_matches_list_frame(self, spark):
        import datetime

        from datatest_spark.schema import (
            MANIFEST_SCHEMA, VERDICT_SCHEMA, VIOLATION_SCHEMA,
        )
        from datatest_spark.session import local_frame

        ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 678000,
                               tzinfo=datetime.timezone.utc)
        cases = [
            (MANIFEST_SCHEMA, [
                ("r", "p", None, "h", ["a", "b"], {"n": 1.0, "x": None}, ts),
                ("r", None, "s", None, [], None, None),
            ]),
            (VERDICT_SCHEMA, [("r", "p", "c", "pass", 0, 3, 12),
                              ("r", None, "c", "fail", 2, None, None)]),
            (VIOLATION_SCHEMA, [("r", "c", "extra", None, None, "d", "v",
                                 None, 1.5, {"k": "v"})]),
            (VIOLATION_SCHEMA, []),
        ]
        for schema, rows in cases:
            got = local_frame(spark, rows, schema)
            want = spark.createDataFrame(rows, schema)
            assert got.schema == want.schema
            assert got.collect() == want.collect()
            assert "LocalRelation" in (
                got._jdf.queryExecution().optimizedPlan().toString()
            )
        # a null in a non-nullable field fails loudly, as the list path does
        with pytest.raises(ValueError, match="check_id"):
            local_frame(spark, [("r", "p", None, "pass", 0, 1, 1)],
                        VERDICT_SCHEMA)


class TestOneCheckForm:
    """A row check has one implementation: its ``violations`` is the
    fused plan of its own conditions, and every row check joins the
    suite's single scan whatever its id column."""

    def test_referential_null_member_flags_non_members(self, spark):
        from datatest_spark.operators.checks import fuse_row_checks

        df = spark.createDataFrame(
            [("a", "web"), ("b", "zzz"), ("c", None)],
            "doc_id string, source string",
        ).withColumn("partition_key", F.lit("all"))
        check = ReferentialCheck("source", allowed=["web", None])
        for plan in (fuse_row_checks(df, [check]), check.violations(df)):
            got = sorted((r["doc_id"], r["value"]) for r in plan.collect())
            assert got == [("b", "zzz"), ("c", None)]

    def test_custom_id_col_attributes_fused_rows(self, spark):
        from datatest_spark.operators.checks import fuse_row_checks

        df = spark.createDataFrame(
            [("d1", "u1", [1, 2], 3), ("d2", "u2", [1, -5], 2),
             ("d3", "u3", [4], 1)],
            "doc_id string, uid string, tokens array<int>, n_tok int",
        ).withColumn("partition_key", F.lit("all"))
        fused = fuse_row_checks(df, [ConsistencyCheck(id_col="uid"),
                                     TokenRangeCheck(id_col="uid")])
        assert fused is not None
        got = sorted((r["check_id"], r["doc_id"]) for r in fused.collect())
        assert got == [("n_tok_consistency", "u1"), ("token_range", "u2")]

    def test_spec_check_key_typo_raises(self):
        from datatest_spark.plans.spec import SpecError, suite_from_spec

        with pytest.raises(SpecError, match="lenght_col"):
            suite_from_spec({"checks": [
                {"type": "consistency", "lenght_col": "x"}]})
        for key, value in (("salted_stats", True), ("n_salts", 8)):
            with pytest.raises(SpecError, match="unknown suite keys"):
                suite_from_spec({"checks": [{"type": "uniqueness"}],
                                 key: value})

    def test_phases_recorded_by_default(self, spark, seqs, monkeypatch):
        monkeypatch.delenv("DATATEST_SUITE_PHASE_LOG", raising=False)
        res = north_star_suite(ALLOWED_SOURCES).run(seqs, run_id="phases")
        res.unpersist()
        assert list(res.phases) == [
            "setup", "stats_pass", "plan_build", "violations_eval",
            "acceptances", "sink_write", "verdicts_manifest",
        ]
        assert all(v >= 0 for v in res.phases.values())


class TestStatsCheckKeys:
    """A bound on a stat the wide pass never computed is a configuration
    error, not a pass; a computed stat that is NULL is skipped."""

    def test_misspelled_stat_interval_key_raises(self, spark, seqs):
        from datatest_spark.operators.checks import StatIntervalCheck

        suite = north_star_suite(ALLOWED_SOURCES, extra_checks=[
            StatIntervalCheck({"n_tok__mx": (None, 0)})])
        with pytest.raises(ValueError, match="n_tok__mx.*n_tok__max"):
            suite.run(seqs, run_id="stat_typo")

    def test_null_rate_computes_its_declared_column(self, spark, seqs):
        # `tokens` is in no north-star stat; declaring it computes it
        res = north_star_suite(ALLOWED_SOURCES, extra_checks=[
            NullRateCheck({"tokens": 0.0})]).run(seqs, run_id="null_tokens")
        res.unpersist()
        want = {}
        for r in seqs.select("source", "tokens").collect():
            pk = "source=" + (r["source"] if r["source"] is not None
                              else "__null__")
            want[pk] = want.get(pk, 0) + (r["tokens"] is None)
        assert {r["partition_key"]: r["tokens__nulls"]
                for r in res.stats_rows} == want
        got = {r["partition_key"]: r["status"]
               for r in res.verdicts.collect()
               if r["check_id"] == "null_rate"}
        assert got == {pk: "fail" if n else "pass" for pk, n in want.items()}
        assert "fail" in got.values() and "pass" in got.values()

    def test_all_null_partition_is_skipped(self, spark):
        from datatest_spark.operators.checks import StatIntervalCheck

        df = spark.createDataFrame(
            [(1, "web", 10), (2, "web", 20), (3, "wiki", None),
             (4, "wiki", None)],
            "doc_id long, source string, n_tok long",
        )
        suite = ValidationSuite(
            [StatIntervalCheck({"n_tok__max": (None, 0)})],
            partition_cols=("source",),
        )
        res = suite.run(df, run_id="stat_all_null")
        rows = [(r["partition_key"], r["value"])
                for r in res.violations.collect()]
        assert len(rows) == 1 and "web" in rows[0][0], rows
        assert rows[0][1] == "20.0"


class TestDeclaredStats:
    """The suite's wide pass computes ``n_rows`` plus exactly the stats
    its checks declare, and rejects an undeclarable stat at plan time."""

    def test_north_star_stats_pass(self, spark, seqs, tmp_path,
                                   monkeypatch):
        path = str(tmp_path / "t")
        seqs.write.parquet(path)
        table = spark.read.parquet(path)
        frame_cls = type(table)
        plans = []
        collect = frame_cls.collect

        def recording_collect(self):
            rows = collect(self)
            plans.append(self._jdf.queryExecution().executedPlan().toString())
            return rows

        monkeypatch.setattr(frame_cls, "collect", recording_collect)
        res = north_star_suite(ALLOWED_SOURCES).run(table, run_id="stat_plan")
        monkeypatch.undo()
        res.unpersist()
        assert res.stats_rows
        for row in res.stats_rows:
            assert set(row) == {
                "partition_key", "n_rows", "doc_id__nulls", "n_tok__nulls",
                "source__nulls", "n_tok__min", "n_tok__max",
            }
        (plan,) = [p for p in plans if "n_rows" in p]
        assert "isFinalPlan=true" in plan, plan
        assert "HashAggregate" in plan and "ObjectHashAggregate" not in plan
        reads = re.findall(r"ReadSchema: (struct<[^\n]*>)", plan)
        assert reads, plan
        assert all("tokens" not in r and "n_tok" in r for r in reads), reads

    def test_hll_distinct_is_declarable(self, spark, seqs):
        from datatest_spark.operators.checks import StatIntervalCheck

        res = ValidationSuite([StatIntervalCheck({
            "doc_id__approx_distinct": (None, None)})]).run(
                seqs, run_id="stat_hll")
        res.unpersist()
        exact = {
            r["pk"]: r["n"] for r in seqs.groupBy(
                F.concat(F.lit("source="),
                         F.coalesce("source", F.lit("__null__"))).alias("pk")
            ).agg(F.countDistinct("doc_id").alias("n")).collect()
        }
        assert sorted(r["partition_key"] for r in res.stats_rows) == sorted(
            exact)
        for r in res.stats_rows:
            assert set(r) == {"partition_key", "n_rows",
                              "doc_id__approx_distinct"}
            assert r["doc_id__approx_distinct"] == pytest.approx(
                exact[r["partition_key"]], rel=0.1)

    @pytest.mark.parametrize("bad", [
        "n_tok__mx", "n_tok__quantiles", "nope__nulls", "tokens__min",
    ])
    def test_undeclarable_stat_raises_before_any_job(self, spark, seqs, bad):
        from datatest_spark.operators.checks import StatIntervalCheck

        suite = ValidationSuite([StatIntervalCheck({bad: (None, 0)})])
        sc = spark.sparkContext
        sc.setJobGroup("bad-stat-probe", "plan an undeclarable stat")
        try:
            with pytest.raises(ValueError, match=re.escape(bad)):
                suite.run(seqs, run_id="bad_stat")
        finally:
            sc.setJobGroup("bad-stat-probe-done", "")
        assert list(sc.statusTracker().getJobIdsForGroup("bad-stat-probe")) == []


class TestFreshness:
    def test_stale_partition_flagged(self, spark):
        from datatest_spark.operators.checks import FreshnessCheck

        df = spark.createDataFrame(
            [("a", "2024-01-01 00:00:00", "web"),
             ("b", "2024-01-10 00:00:00", "books")],
            "doc_id string, ts string, source string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
            "partition_key", F.concat(F.lit("source="), "source")
        )
        as_of = 1704931200000  # 2024-01-11 00:00:00 UTC
        chk = FreshnessCheck("ts", as_of_ms=as_of, max_age_ms=2 * 86400_000)
        rows = chk.violations(df).collect()
        assert len(rows) == 1
        assert rows[0]["partition_key"] == "source=web"
        assert rows[0]["kind"] == "deviation" and rows[0]["deviation"] < 0

    def test_ntz_verdict_session_timezone_free(self, spark):
        """Regression (round-1 verdict): NTZ timestamps must yield the
        same staleness verdict under any session timezone — the old
        NTZ→LTZ cast applied the session TZ to the epoch math."""
        from datatest_spark.operators.checks import FreshnessCheck

        df = spark.createDataFrame(
            [("a", "2024-01-01 00:00:00", "web"),
             ("b", "2024-01-10 00:00:00", "books")],
            "doc_id string, ts string, source string",
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz")).withColumn(
            "partition_key", F.concat(F.lit("source="), "source")
        )
        as_of = 1704931200000  # 2024-01-11 00:00:00
        chk = FreshnessCheck("ts", as_of_ms=as_of, max_age_ms=2 * 86400_000)
        old_tz = spark.conf.get("spark.sql.session.timeZone")
        results = {}
        try:
            for tz in ("UTC", "Asia/Kolkata", "America/Los_Angeles"):
                spark.conf.set("spark.sql.session.timeZone", tz)
                results[tz] = sorted(
                    (r["partition_key"], r["kind"], r["value"], r["deviation"])
                    for r in chk.violations(df).collect()
                )
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)
        vals = list(results.values())
        assert vals[0] == vals[1] == vals[2]
        assert len(vals[0]) == 1 and vals[0][0][0] == "source=web"

    def test_date_column_session_timezone_free(self, spark):
        """Review finding: date -> timestamp cast lands on midnight in
        the SESSION timezone; the date branch must go through NTZ."""
        from datatest_spark.operators.checks import FreshnessCheck

        df = spark.createDataFrame(
            [("a", "2024-01-05", "web")],
            "doc_id string, ts string, source string",
        ).withColumn("ts", F.col("ts").cast("date")).withColumn(
            "partition_key", F.concat(F.lit("source="), "source")
        )
        chk = FreshnessCheck("ts", as_of_ms=1704931200000, max_age_ms=1)
        old_tz = spark.conf.get("spark.sql.session.timeZone")
        vals = []
        try:
            for tz in ("UTC", "Asia/Kolkata", "America/Los_Angeles"):
                spark.conf.set("spark.sql.session.timeZone", tz)
                vals.append([r["value"] for r in chk.violations(df).collect()])
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)
        assert vals[0] == vals[1] == vals[2]
        assert vals[0] == ["1704412800000"]  # 2024-01-05T00:00 from epoch


class TestGlobalViolationVerdicts:
    """Partition-less violations (schema check) must fail the verdicts
    (review finding: silent false pass)."""

    def test_schema_mismatch_fails_suite(self, spark):
        from datatest_spark.operators.checks import SchemaConformanceCheck
        from datatest_spark.schema import INPUT_SCHEMA

        bad = spark.createDataFrame(
            [("a", "web")], "doc_id string, source string"  # missing columns
        )
        suite = ValidationSuite(
            [SchemaConformanceCheck(INPUT_SCHEMA)],
            partition_cols=("source",),
        )
        res = suite.run(bad, run_id="schema-fail")
        assert res.failed
        statuses = {r["partition_key"]: r["status"] for r in res.verdicts.collect()
                    if r["check_id"] == "schema_conformance"}
        assert statuses.get("__global__") == "fail"


class TestDriftBaselineKeySpace:
    """Round-2 review: a baseline built from raw rows with non-string
    groups must land in histogram()'s stringified key space, or drift is
    never computed and every group double-reports extra+missing."""

    def test_int_group_col_baseline(self, spark):
        from datatest_spark.operators.drift import DriftCheck

        df = spark.createDataFrame(
            [(1, float(i % 10)) for i in range(100)]
            + [(2, float(i % 10)) for i in range(100)],
            "shard int, v double",
        )
        base = [
            (1, b, 0.1) for b in range(1, 11)
        ] + [(2, b, 0.1) for b in range(1, 11)]
        chk = DriftCheck(base, value_col="v", group_col="shard",
                         lo=0.0, hi=10.0, nbins=10, threshold=0.5)
        metrics, extra, missing = chk.compute(df)
        assert set(metrics) == {"1", "2"}
        assert extra == set() and missing == set()
        assert chk.drift_violations(df) == []

    def test_text_format_baseline_str_buckets(self, spark):
        # a baseline loaded from CSV/JSON carries str groups AND str
        # buckets; both must normalize into histogram()'s key space
        from datatest_spark.operators.drift import DriftCheck

        df = spark.createDataFrame(
            [("web", float(i % 10)) for i in range(100)], "src string, v double"
        )
        base = [("web", str(b), "0.1") for b in range(1, 11)]
        chk = DriftCheck(base, value_col="v", group_col="src",
                         lo=0.0, hi=10.0, nbins=10, threshold=0.5)
        metrics, extra, missing = chk.compute(df)
        assert extra == set() and missing == set()
        assert metrics["web"] < 0.01  # identical distribution, no drift

    def test_float_string_buckets(self, spark):
        # pandas round trips can float the bucket column ("3.0")
        from datatest_spark.operators.drift import DriftCheck

        df = spark.createDataFrame(
            [("web", float(i % 10)) for i in range(100)], "src string, v double"
        )
        base = [("web", "{0}.0".format(b), 0.1) for b in range(1, 11)]
        chk = DriftCheck(base, value_col="v", group_col="src",
                         lo=0.0, hi=10.0, nbins=10, threshold=0.5)
        metrics, extra, missing = chk.compute(df)
        assert extra == set() and missing == set()
        assert metrics["web"] < 0.01

    def test_null_bucket_baseline_raises(self, spark):
        from datatest_spark.operators.drift import DriftCheck

        df = spark.createDataFrame([("web", 1.0)], "src string, v double")
        chk = DriftCheck([("web", None, 1.0)], value_col="v", group_col="src",
                         lo=0.0, hi=10.0, nbins=10)
        with pytest.raises(ValueError, match="null bucket"):
            chk.compute(df)


class TestLengthBoundCheck:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, "web", 10), (2, "web", 5000), (3, "web", 0),
             (4, "wiki", None), (5, "wiki", 2048)],
            "doc_id long, source string, n_tok long",
        )

    def test_deviations_and_invalid(self, spark):
        from datatest_spark.operators.checks import LengthBoundCheck

        suite = ValidationSuite(
            [LengthBoundCheck(min_len=1, max_len=4096)],
            partition_cols=("source",),
        )
        res = suite.run(self._df(spark), run_id="lb1")
        rows = {r["doc_id"]: r for r in res.violations.collect()}
        assert sorted(rows) == ["2", "3", "4"]
        assert rows["2"]["kind"] == "deviation"
        assert rows["2"]["deviation"] == 904.0  # 5000 - 4096
        assert rows["3"]["deviation"] == -1.0   # 0 - 1
        assert rows["4"]["kind"] == "invalid"
        assert rows["2"]["expected"] == "[1,4096]"
        assert res.failed

    def test_fused_equals_standalone(self, spark):
        from datatest_spark.operators.checks import (
            LengthBoundCheck, fuse_row_checks,
        )
        from datatest_spark.operators.stats import partition_key_col

        df = self._df(spark).withColumn(
            "partition_key", partition_key_col(["source"])
        )
        check = LengthBoundCheck(min_len=1, max_len=4096)
        fused = fuse_row_checks(df, [check])
        a = sorted(map(tuple, fused.drop("detail").collect()))
        b = sorted(map(tuple, check.violations(df).drop("detail").collect()))
        assert a == b and len(a) == 3

    def test_bounds_validated(self, spark):
        from datatest_spark.operators.checks import LengthBoundCheck

        with pytest.raises(ValueError, match="max_len"):
            LengthBoundCheck(min_len=10, max_len=5)
        with pytest.raises(ValueError, match="at least one bound"):
            LengthBoundCheck(min_len=None, max_len=None)

    def test_one_sided_upper(self, spark):
        from datatest_spark.operators.checks import LengthBoundCheck
        from datatest_spark.operators.stats import partition_key_col

        df = self._df(spark).withColumn(
            "partition_key", partition_key_col(["source"])
        )
        rows = {
            r["doc_id"]: r
            for r in LengthBoundCheck(
                min_len=None, max_len=100
            ).violations(df).collect()
        }
        assert sorted(rows) == ["2", "4", "5"]
        assert rows["5"]["deviation"] == 2048.0 - 100.0
        assert rows["5"]["expected"] == "[-inf,100]"


class TestSnapshotLineage:
    def test_snapshot_recorded_and_roundtrips(self, spark, seqs, tmp_path):
        mdir = str(tmp_path / "m")
        suite = north_star_suite(ALLOWED_SOURCES)
        suite.run(seqs, run_id="sn1", manifest_dir=mdir,
                  input_snapshot_id=12345)
        rows = suite._manifest_rows(spark, mdir, "sn1")
        snaps = {r["input_snapshot_id"] for r in rows}
        assert snaps == {"12345"}
        # same snapshot resumes cleanly
        res = suite.run(seqs, run_id="sn1", manifest_dir=mdir,
                        input_snapshot_id="12345")
        assert res.stats_rows == []

    def test_resume_refuses_different_snapshot(self, spark, seqs, tmp_path):
        mdir = str(tmp_path / "m")
        suite = north_star_suite(ALLOWED_SOURCES)
        suite.run(seqs, run_id="sn2", manifest_dir=mdir,
                  input_snapshot_id="111")
        with pytest.raises(ValueError, match="snapshot"):
            suite.run(seqs, run_id="sn2", manifest_dir=mdir,
                      input_snapshot_id="222")
        # snapshot-less resume (parquet twin) still allowed: the files
        # hash remains the lineage guard there
        res = suite.run(seqs, run_id="sn2", manifest_dir=mdir)
        assert res.stats_rows == []


class TestTokenBoundaryCheck:
    def _df(self, spark):
        return spark.createDataFrame(
            [
                (1, "web", [1, 7, 9, 2]),     # framed correctly
                (2, "web", [7, 9, 2]),        # missing BOS
                (3, "web", [1, 7, 9]),        # missing EOS
                (4, "wiki", []),              # empty
                (5, "wiki", None),            # null array
                (6, "wiki", [1, 2]),          # minimal framed
                (7, "wiki", [1, None, 2]),    # inner null is NOT a framing issue
            ],
            "doc_id long, source string, tokens array<int>",
        )

    def test_framing_violations(self, spark):
        from datatest_spark.operators.checks import TokenBoundaryCheck

        suite = ValidationSuite(
            [TokenBoundaryCheck(bos_id=1, eos_id=2)],
            partition_cols=("source",),
        )
        res = suite.run(self._df(spark), run_id="tb1")
        rows = {r["doc_id"]: r for r in res.violations.collect()}
        assert sorted(rows) == ["2", "3", "4", "5"]
        assert rows["2"]["value"] == "7..2"
        assert rows["3"]["value"] == "1..9"
        assert all(r["kind"] == "invalid" for r in rows.values())
        assert rows["2"]["expected"] == "bos=1,eos=2"
        assert res.failed

    def test_one_sided_and_null_edges(self, spark):
        from datatest_spark.operators.checks import TokenBoundaryCheck
        from datatest_spark.operators.stats import partition_key_col

        df = self._df(spark).withColumn(
            "partition_key", partition_key_col(["source"])
        )
        only_bos = TokenBoundaryCheck(bos_id=1)
        ids = {r["doc_id"] for r in only_bos.violations(df).collect()}
        assert ids == {"2", "4", "5"}
        only_eos = TokenBoundaryCheck(eos_id=2)
        ids = {r["doc_id"] for r in only_eos.violations(df).collect()}
        assert ids == {"3", "4", "5"}
        # a null FIRST element must read as a violation, not null-prop true
        df2 = spark.createDataFrame(
            [(9, "web", [None, 2])],
            "doc_id long, source string, tokens array<int>",
        ).withColumn("partition_key", partition_key_col(["source"]))
        assert {r["doc_id"] for r in
                TokenBoundaryCheck(bos_id=1).violations(df2).collect()} == {"9"}

    def test_fused_equals_standalone(self, spark):
        from datatest_spark.operators.checks import (
            TokenBoundaryCheck, fuse_row_checks,
        )
        from datatest_spark.operators.stats import partition_key_col

        df = self._df(spark).withColumn(
            "partition_key", partition_key_col(["source"])
        )
        check = TokenBoundaryCheck(bos_id=1, eos_id=2)
        fused = fuse_row_checks(df, [check])
        a = sorted(map(tuple, fused.drop("detail").collect()))
        b = sorted(map(tuple, check.violations(df).drop("detail").collect()))
        assert a == b and len(a) == 4

    def test_requires_a_frame_token(self, spark):
        from datatest_spark.operators.checks import TokenBoundaryCheck

        with pytest.raises(ValueError, match="bos_id and/or eos_id"):
            TokenBoundaryCheck()


class TestFunctionalDependencyCheck:
    def _df(self, spark):
        # within source=web, lang is NOT a function of domain ('a' maps
        # to en/en/de); within wiki the FD holds
        return spark.createDataFrame(
            [
                (1, "web", "a", "en"), (2, "web", "a", "en"),
                (3, "web", "a", "de"), (4, "web", "b", "fr"),
                (5, "wiki", "c", "en"), (6, "wiki", "c", "en"),
            ],
            "doc_id long, source string, dom string, lang string",
        )

    def test_violations_name_key_majority_and_g3(self, spark):
        from datatest_spark.operators.checks import (
            FunctionalDependencyCheck,
        )

        suite = ValidationSuite(
            [FunctionalDependencyCheck("dom", "lang")],
            partition_cols=("source",),
        )
        res = suite.run(self._df(spark), run_id="fd1")
        rows = res.violations.collect()
        assert len(rows) == 1
        (r,) = rows
        assert r["check_id"] == "fd_dom_to_lang"
        assert r["partition_key"] == "source=web"
        assert r["value"] == "a" and r["expected"] == "en"
        assert r["deviation"] == 1.0  # one row off the majority
        assert r["detail"]["n_distinct_dep"] == "2"
        assert res.failed
        verdicts = {
            (v["partition_key"], v["check_id"]): v["status"]
            for v in res.verdicts.collect()
        }
        assert verdicts[("source=web", "fd_dom_to_lang")] == "fail"
        assert verdicts[("source=wiki", "fd_dom_to_lang")] == "pass"

    def test_tolerated_rate_passes(self, spark):
        from datatest_spark.operators.checks import (
            FunctionalDependencyCheck,
        )

        suite = ValidationSuite(
            [FunctionalDependencyCheck("dom", "lang",
                                       max_violation_rate=0.5)],
            partition_cols=("source",),
        )
        res = suite.run(self._df(spark), run_id="fd2")
        # 1 violating row out of 3 for key 'a' = 0.33 <= 0.5 -> clean
        assert res.violations.count() == 0 and not res.failed

    def test_rate_validated(self, spark):
        from datatest_spark.operators.checks import (
            FunctionalDependencyCheck,
        )

        with pytest.raises(ValueError, match="max_violation_rate"):
            FunctionalDependencyCheck("a", "b", max_violation_rate=1.0)


class TestBenfordCheck:
    def test_uniform_digits_fail_benford_data_passes(self, spark):
        import math
        import random

        from datatest_spark.operators.checks import BenfordCheck

        rng = random.Random(7)
        # 'clean': log-uniform magnitudes follow Benford closely
        clean = [("clean", float(10 ** rng.uniform(0, 4))) for _ in range(600)]
        # 'cooked': uniform [100, 1000) -> uniform first digits, way off
        cooked = [("cooked", float(rng.uniform(100, 1000)))
                  for _ in range(600)]
        df = spark.createDataFrame(clean + cooked, "source string, v double")
        suite = ValidationSuite(
            [BenfordCheck("v")],
            partition_cols=("source",),
        )
        res = suite.run(df, run_id="bf1")
        rows = {r["partition_key"]: r for r in res.violations.collect()}
        assert "source=cooked" in rows
        assert "source=clean" not in rows
        assert rows["source=cooked"]["kind"] == "deviation"
        assert float(rows["source=cooked"]["value"]) > 20.09
        verdicts = {
            (v["partition_key"], v["check_id"]): v["status"]
            for v in res.verdicts.collect()
        }
        assert verdicts[("source=cooked", "benford_v")] == "fail"
        assert verdicts[("source=clean", "benford_v")] == "pass"

    def test_small_partitions_skipped(self, spark):
        from datatest_spark.operators.checks import BenfordCheck

        df = spark.createDataFrame(
            [("tiny", 500.0)] * 10, "source string, v double"
        )
        suite = ValidationSuite(
            [BenfordCheck("v", min_rows=100)],
            partition_cols=("source",),
        )
        res = suite.run(df, run_id="bf2")
        assert res.violations.count() == 0 and not res.failed

    def test_threshold_validated(self, spark):
        from datatest_spark.operators.checks import BenfordCheck

        with pytest.raises(ValueError, match="max_chi2"):
            BenfordCheck("v", max_chi2=0)
