"""spark-submit job surface (datatest_spark.cli / jobs/validate_tokens.py)."""

import json

import pytest

from datatest_spark.cli import build_parser, main


@pytest.fixture(scope="module")
def token_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cli") / "input")
    rows = [(str(i), [1, 2, 3], 3, "web" if i % 2 else "wiki")
            for i in range(100)]
    spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    ).repartition(2).write.parquet(path)
    return path


def _run(capsys, argv):
    rc = main(argv)
    out = [l for l in capsys.readouterr().out.splitlines()
           if l.startswith("{")][-1]
    return rc, json.loads(out)


class TestValidateJob:
    def test_pass_and_summary(self, spark, token_table, capsys):
        rc, s = _run(capsys, [
            "--input", token_table, "--allowed-sources", "web,wiki",
            "--run-id", "t-pass",
        ])
        assert rc == 0 and s["status"] == "pass"
        assert s["partitions"] == 2 and s["n_rows"] == 100
        assert list(s["phases"]) == [
            "setup", "stats_pass", "plan_build", "violations_eval",
            "acceptances", "sink_write", "verdicts_manifest",
        ]

    def test_fail_exit_code_and_sample(self, spark, token_table, capsys):
        rc, s = _run(capsys, [
            "--input", token_table, "--allowed-sources", "web",
            "--run-id", "t-fail",
        ])
        assert rc == 1 and s["status"] == "fail"
        assert s["failed_partitions"] == 1
        assert s["failed_sample"][0]["partition_key"] == "source=wiki"

    def test_resume_skips_completed(self, spark, token_table, tmp_path, capsys):
        argv = [
            "--input", token_table, "--allowed-sources", "web,wiki",
            "--run-id", "t-resume", "--manifest-dir", str(tmp_path / "m"),
        ]
        rc1, s1 = _run(capsys, argv)
        rc2, s2 = _run(capsys, argv)
        assert (rc1, rc2) == (0, 0)
        # the resumed run validates nothing but re-emits the recorded
        # verdicts from the manifest, so the summary still covers both
        # partitions (and a recorded failure would still exit 1)
        assert s1["partitions"] == 2 and s2["partitions"] == 2
        assert s2["status"] == "pass"

    def test_allowed_sources_file(self, spark, token_table, tmp_path, capsys):
        f = tmp_path / "allowed.txt"
        f.write_text("web\nwiki\n")
        rc, s = _run(capsys, [
            "--input", token_table, "--allowed-sources", "@" + str(f),
            "--run-id", "t-file",
        ])
        assert rc == 0 and s["status"] == "pass"

    def test_parser_rejects_missing_input(self):
        with pytest.raises(SystemExit):
            build_parser().parse_args(["--allowed-sources", "a"])


class TestCliReviewFixes:
    def test_resume_of_failed_run_still_fails(self, spark, token_table,
                                              tmp_path, capsys):
        # the CI-retry contract: re-running a failed run-id with resume
        # must re-emit the recorded failure from the manifest, not skip
        # the partition and report pass
        argv = [
            "--input", token_table, "--allowed-sources", "web",
            "--run-id", "t-refail", "--manifest-dir", str(tmp_path / "m"),
        ]
        rc1, s1 = _run(capsys, argv)
        rc2, s2 = _run(capsys, argv)
        assert (rc1, rc2) == (1, 1)
        assert s2["status"] == "fail" and s2["failed_partitions"] == 1
        # the resumed verdicts carry the per-check breakdown
        assert any(v["check_id"] == "referential"
                   for v in s2["failed_sample"])

    def test_table_format_reads_temp_view(self, spark, token_table, capsys):
        spark.read.parquet(token_table).createOrReplaceTempView("cli_tokens")
        rc, s = _run(capsys, [
            "--input", "cli_tokens", "--format", "table",
            "--allowed-sources", "web,wiki", "--run-id", "t-table",
        ])
        assert rc == 0 and s["partitions"] == 2

    def test_violations_sink_written(self, spark, token_table, tmp_path,
                                     capsys):
        sink = tmp_path / "sink"
        rc, s = _run(capsys, [
            "--input", token_table, "--allowed-sources", "web",
            "--run-id", "t-sink", "--violations-sink", str(sink),
        ])
        assert rc == 1
        out = spark.read.parquet(str(sink / "run_id=t-sink"))
        assert out.count() == 50  # 50 wiki rows rejected

    def test_no_resume_revalidates(self, spark, token_table, tmp_path,
                                   capsys):
        argv = [
            "--input", token_table, "--allowed-sources", "web,wiki",
            "--run-id", "t-norsm", "--manifest-dir", str(tmp_path / "m"),
        ]
        _run(capsys, argv)
        rc, s = _run(capsys, argv + ["--no-resume"])
        assert rc == 0 and s["partitions"] == 2  # nothing skipped

    def test_resumed_retry_preserves_sink_evidence(self, spark, token_table,
                                                   tmp_path, capsys):
        # the sink uses dynamic partition overwrite: a resumed retry
        # (nothing revalidated, empty accepted frame) must not wipe the
        # violation rows the original failed run recorded
        sink = tmp_path / "sink"
        argv = [
            "--input", token_table, "--allowed-sources", "web",
            "--run-id", "t-keep", "--manifest-dir", str(tmp_path / "m"),
            "--violations-sink", str(sink),
        ]
        rc1, _ = _run(capsys, argv)
        assert spark.read.parquet(str(sink / "run_id=t-keep")).count() == 50
        rc2, s2 = _run(capsys, argv)
        assert (rc1, rc2) == (1, 1)
        assert spark.read.parquet(str(sink / "run_id=t-keep")).count() == 50

    def test_resumed_retry_no_duplicate_rows(self, spark, token_table,
                                             tmp_path, capsys):
        # retries must not append re-derived rows: sink row count is
        # stable across ANY number of resumed retries
        sink = tmp_path / "sink"
        argv = [
            "--input", token_table, "--allowed-sources", "web",
            "--run-id", "t-nodup", "--manifest-dir", str(tmp_path / "m"),
            "--violations-sink", str(sink),
        ]
        _run(capsys, argv)
        _run(capsys, argv)
        _run(capsys, argv)
        assert spark.read.parquet(str(sink / "run_id=t-nodup")).count() == 50

    def test_clean_run_sink_readable_empty(self, spark, token_table,
                                           tmp_path, capsys):
        # zero violations must still leave a schema-bearing parquet dir
        # (a partitioned zero-row write would emit nothing and the read
        # would fail with UNABLE_TO_INFER_SCHEMA)
        sink = tmp_path / "sink"
        rc, s = _run(capsys, [
            "--input", token_table, "--allowed-sources", "web,wiki",
            "--run-id", "t-clean", "--violations-sink", str(sink),
        ])
        assert rc == 0
        assert spark.read.parquet(str(sink / "run_id=t-clean")).count() == 0

    def test_resumed_summary_keeps_n_rows(self, spark, token_table,
                                          tmp_path, capsys):
        argv = [
            "--input", token_table, "--allowed-sources", "web,wiki",
            "--run-id", "t-nrows", "--manifest-dir", str(tmp_path / "m"),
        ]
        _run(capsys, argv)
        rc, s = _run(capsys, argv)
        assert rc == 0 and s["n_rows"] == 100

    def test_resume_refuses_different_input(self, spark, token_table,
                                            tmp_path, capsys):
        # same run-id, different dataset: re-emitting recorded verdicts
        # would be a false pass on never-validated data
        other = str(tmp_path / "other")
        spark.read.parquet(token_table).limit(10).write.parquet(other)
        argv = ["--allowed-sources", "web,wiki", "--run-id", "t-hash",
                "--manifest-dir", str(tmp_path / "m")]
        _run(capsys, ["--input", token_table] + argv)
        with pytest.raises(ValueError, match="resume refused"):
            main(["--input", other] + argv)
        # --no-resume revalidates the new input instead
        rc, s = _run(capsys, ["--input", other, "--no-resume"] + argv)
        assert rc == 0 and s["n_rows"] == 10

    def test_missing_sources_file_exits_2(self, token_table, capsys):
        with pytest.raises(SystemExit) as exc:
            main(["--input", token_table,
                  "--allowed-sources", "@/no/such/file"])
        assert exc.value.code == 2

    def test_global_fail_not_counted_as_partition(self, spark, tmp_path,
                                                  capsys):
        # a table with a wrong column TYPE fails the global schema
        # check: partitions stays the real count, global_fail flips on
        path = str(tmp_path / "noschema")
        spark.createDataFrame(
            [("1", [1], 1.5, "web")],
            "doc_id string, tokens array<int>, n_tok double, source string",
        ).write.parquet(path)
        rc, s = _run(capsys, [
            "--input", path, "--allowed-sources", "web",
            "--run-id", "t-glob",
        ])
        assert rc == 1 and s["global_fail"] is True


class TestRowLengthBounds:
    def test_length_bound_flag_fails_long_rows(self, spark, token_table,
                                               capsys):
        # every row has n_tok=3: a MAX of 2 fails both partitions
        rc, s = _run(capsys, [
            "--input", token_table, "--allowed-sources", "web,wiki",
            "--run-id", "t-lb-fail", "--row-length-bounds", "1,2",
        ])
        assert rc == 1 and s["status"] == "fail"
        assert s["failed_partitions"] == 2

    def test_length_bound_flag_passes_within(self, spark, token_table,
                                             capsys):
        rc, s = _run(capsys, [
            "--input", token_table, "--allowed-sources", "web,wiki",
            "--run-id", "t-lb-pass", "--row-length-bounds", ",4096",
        ])
        assert rc == 0 and s["status"] == "pass"

    def test_bad_bounds_exit_2(self, token_table, capsys):
        with pytest.raises(SystemExit) as e:
            main([
                "--input", token_table, "--allowed-sources", "web",
                "--row-length-bounds", ",",
            ])
        assert e.value.code == 2


class TestPrepareCorpusJob:
    def test_end_to_end(self, spark, tmp_path):
        import sys

        sys.path.insert(0, "/root/repo")
        from jobs.prepare_corpus import build_parser, prepare
        from pyspark.sql import functions as F

        rows = []
        for i in range(200):
            toks = [(i * 7 + j) % 50 for j in range(20)]
            rows.append((str(i), toks, len(toks),
                         "web" if i % 2 else "wiki"))
        # exact duplicates (same tokens as doc 0) and a degenerate doc
        rows.append(("900", rows[0][1], 20, "web"))
        rows.append(("901", [3] * 40, 40, "web"))  # max_run_frac = 1.0
        df = spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, source string"
        )
        inp = str(tmp_path / "tokens")
        df.write.parquet(inp)
        # benchmark sharing doc 5's token stream -> decontaminated
        bench = spark.createDataFrame(
            [("b0", rows[5][1])], "doc_id string, tokens array<int>"
        )
        bench_path = str(tmp_path / "bench")
        bench.write.parquet(bench_path)

        out = str(tmp_path / "prepared")
        rc = prepare(spark, build_parser().parse_args([
            "--input", inp, "--output", out,
            "--benchmark", bench_path,
            "--target-tokens", "web=1000,wiki=1000",
            "--splits", "train=0.75,val=0.125,test=0.125",
        ]))
        assert rc == 0
        got = spark.read.parquet(out)
        ids = {r["doc_id"] for r in got.select("doc_id").collect()}
        assert "900" not in ids          # exact dup dropped (min id kept)
        assert "901" not in ids          # run-frac gate
        assert "5" not in ids            # decontaminated
        assert {r["split"] for r in got.select("split").collect()} <= {
            "train", "val", "test"}
        # mixture respects budgets approximately: ~1000 tokens/source
        toks = {r["source"]: r["t"] for r in got.groupBy("source")
                .agg(F.sum("n_tok").alias("t")).collect()}
        for src, t in toks.items():
            assert 400 <= t <= 1700, (src, t)


SPEC_BASE = {
    "partition_cols": ["source"],
    "checks": [
        {"type": "uniqueness", "column": "doc_id"},
        {"type": "referential", "column": "source",
         "allowed": ["web", "wiki"]},
    ],
}


class TestSpecFlag:
    def _write(self, tmp_path, spec):
        import json as _json

        p = tmp_path / "suite.json"
        p.write_text(_json.dumps(spec))
        return str(p)

    def test_spec_pass(self, spark, token_table, tmp_path, capsys):
        rc, s = _run(capsys, [
            "--input", token_table, "--spec",
            self._write(tmp_path, SPEC_BASE), "--run-id", "spec-pass",
        ])
        assert rc == 0 and s["status"] == "pass"
        assert s["partitions"] == 2 and s["n_rows"] == 100

    def test_spec_fail(self, spark, token_table, tmp_path, capsys):
        spec = dict(SPEC_BASE)
        spec["checks"] = [
            {"type": "referential", "column": "source", "allowed": ["web"]}]
        rc, s = _run(capsys, [
            "--input", token_table, "--spec", self._write(tmp_path, spec),
            "--run-id", "spec-fail",
        ])
        assert rc == 1 and s["status"] == "fail"
        assert s["failed_sample"][0]["partition_key"] == "source=wiki"

    def test_spec_extra_checks_append(self, spark, token_table, tmp_path,
                                      capsys):
        # rows all have n_tok=3; a 1,2 bound must fail via the appended
        # row-level check even though the spec itself passes
        rc, s = _run(capsys, [
            "--input", token_table, "--spec",
            self._write(tmp_path, SPEC_BASE), "--run-id", "spec-extra",
            "--row-length-bounds", "1,2",
        ])
        assert rc == 1 and s["status"] == "fail"

    def test_spec_and_allowed_sources_exit_2(self, token_table, tmp_path,
                                             capsys):
        with pytest.raises(SystemExit) as ex:
            main(["--input", token_table, "--allowed-sources", "web",
                  "--spec", self._write(tmp_path, SPEC_BASE)])
        assert ex.value.code == 2

    def test_neither_spec_nor_allowed_exit_2(self, token_table, capsys):
        with pytest.raises(SystemExit) as ex:
            main(["--input", token_table])
        assert ex.value.code == 2

    def test_bad_spec_exit_2_before_spark(self, token_table, tmp_path,
                                          capsys):
        spec = {"checks": [{"type": "nonsense"}]}
        with pytest.raises(SystemExit) as ex:
            main(["--input", token_table, "--spec",
                  self._write(tmp_path, spec)])
        assert ex.value.code == 2

    def test_missing_spec_file_exit_2(self, token_table, capsys):
        with pytest.raises(SystemExit) as ex:
            main(["--input", token_table, "--spec", "/nonexistent/s.json"])
        assert ex.value.code == 2


class TestFdFlag:
    def test_fd_violation_fails(self, spark, tmp_path, capsys):
        # source -> n_tok is violated inside 'web' (n_tok 3 and 4)
        path = str(tmp_path / "fdin")
        rows = [("1", [1, 2, 3], 3, "web"), ("2", [1, 2, 3, 4], 4, "web"),
                ("3", [1, 2, 3], 3, "wiki")]
        spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, source string"
        ).write.parquet(path)
        rc, s = _run(capsys, [
            "--input", path, "--allowed-sources", "web,wiki",
            "--run-id", "t-fd-fail", "--fd", "source:n_tok",
        ])
        assert rc == 1 and s["status"] == "fail"

    def test_fd_holds_passes_and_rate_tolerates(self, spark, token_table,
                                                capsys):
        # every row has n_tok=3: source -> n_tok holds
        rc, s = _run(capsys, [
            "--input", token_table, "--allowed-sources", "web,wiki",
            "--run-id", "t-fd-pass", "--fd", "source:n_tok",
        ])
        assert rc == 0 and s["status"] == "pass"

    def test_bad_fd_spec_exit_2(self, token_table, capsys):
        with pytest.raises(SystemExit) as e:
            main([
                "--input", token_table, "--allowed-sources", "web",
                "--fd", "only_one_part",
            ])
        assert e.value.code == 2


class TestProfileCorpusJob:
    def test_data_card_end_to_end(self, spark, tmp_path, capsys):
        from datatest_spark.sources.synth import tokenized_sequences

        path = str(tmp_path / "pin")
        tokenized_sequences(spark, 300, seed=11).write.parquet(path)
        out_json = str(tmp_path / "card.json")

        import importlib.util
        import os

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "profile_corpus", os.path.join(repo, "jobs", "profile_corpus.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        rc = mod.main(["--input", path, "--output", out_json,
                       "--max-pos", "4", "--phi", "0.01"])
        assert rc == 0
        card = json.loads(open(out_json).read())
        assert card["n_rows"] == 300
        # shares cover every source and sum to ~1 (rounded to 6dp each)
        assert abs(sum(r["share"] for r in card["shares"]) - 1.0) < 1e-4
        # baseline defaults to the rank-1 (largest) source by contract
        top = next(r for r in card["shares"] if r["rank"] == 1)
        assert card["baseline_source"] == top["group"]
        # drift lenses exist and the baseline's own z/ks are exact zeros
        mwu = {r["group"]: r for r in card["drift"]["mwu"]}
        ks = {r["group"]: r for r in card["drift"]["ks"]}
        b = card["baseline_source"]
        assert mwu[b]["z"] == 0.0 and ks[b]["ks"] == 0.0
        # prefix entropy rows bounded by max-pos
        assert 1 <= len(card["prefix_entropy"]) <= 4
        # bootstrap CI brackets the mean per source
        for r in card["ci_n_tok"]:
            assert r["ci_lo"] <= r["mean"] <= r["ci_hi"]
        # concentration: one row, indices in range, top_share >= 1/n
        (conc,) = card["concentration"]
        assert 0.0 <= conc["gini"] < 1.0
        assert 1.0 / conc["n_groups"] <= conc["hhi"] <= 1.0
        assert conc["top_group"] == card["baseline_source"]
        # dedup impact: every source accounted for, rates in [0, 1]
        assert {r["group"] for r in card["dedup_impact"]} == {
            r["group"] for r in card["shares"]
        }
        for r in card["dedup_impact"]:
            assert 0.0 <= r["redundancy_rate"] <= 1.0
        # inspection sample: <= k rows per source, ranks start at 1
        by_src = {}
        for r in card["inspection"]:
            by_src.setdefault(r["source"], []).append(r["rank"])
        for ranks in by_src.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
        # JS drift present with the baseline's own zero
        js = {r["group"]: r for r in card["drift"]["js"]}
        assert js[card["baseline_source"]]["js"] == 0.0
        # surprisal lens: every source scored, self-model => zero OOV,
        # positive mean bits, max >= mean
        sur = {r["source"]: r for r in card["surprisal"]}
        assert set(sur) == {r["group"] for r in card["shares"]}
        assert sum(r["n_docs"] for r in sur.values()) == 300
        for r in sur.values():
            assert r["n_oov"] == 0
            assert r["mean_bits"] > 0.0
            assert r["max_bits"] >= r["mean_bits"]

    def test_data_card_versioning_lenses(self, spark, tmp_path):
        """--compare adds schema_drift + band_migration against a prior
        snapshot: here the prior is the same table minus a column's
        worth of rows... (drop rows + a column to exercise statuses)."""
        from pyspark.sql import functions as F

        from datatest_spark.sources.synth import tokenized_sequences

        cur = tokenized_sequences(spark, 200, seed=11)
        cur_path = str(tmp_path / "cur")
        cur.write.parquet(cur_path)
        # prior snapshot: fewer rows, no n_tok column
        prior_path = str(tmp_path / "prior")
        cur.where(F.col("doc_id").substr(-1, 1) != "7").drop(
            "n_tok"
        ).write.parquet(prior_path)

        import importlib.util
        import os

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "profile_corpus", os.path.join(repo, "jobs", "profile_corpus.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        out_json = str(tmp_path / "card2.json")
        rc = mod.main(["--input", cur_path, "--output", out_json,
                       "--max-pos", "2", "--phi", "0.01",
                       "--compare", prior_path, "--bands", "3"])
        assert rc == 0
        card = json.loads(open(out_json).read())
        sd = {r["column"]: r for r in card["versioning"]["schema_drift"]}
        assert sd["n_tok"]["status"] == "added"
        assert sd["doc_id"]["status"] == "kept"
        # the prior lacks the score column, which schema_drift just
        # reported — migration must be SKIPPED, not crash
        assert "band_migration" not in card["versioning"]
        prior2_path = str(tmp_path / "prior2")
        cur.where(F.col("doc_id").substr(-1, 1) != "7").write.parquet(
            prior2_path
        )
        rc = mod.main(["--input", cur_path, "--output", out_json,
                       "--max-pos", "2", "--phi", "0.01",
                       "--compare", prior2_path, "--bands", "3"])
        assert rc == 0
        card = json.loads(open(out_json).read())
        mig = card["versioning"]["band_migration"]
        assert mig, "migration matrix empty"
        entered = [r for r in mig if r["band_old"] is None]
        assert entered and sum(r["n"] for r in entered) > 0
        assert all(1 <= r["band_new"] <= 3 for r in entered)
