"""The event-log ledger on a short recorded log.

``testdata/eventlog_small.jsonl`` is a trimmed Spark 4.1 event log of a
local[2] session that wrote a 400-row parquet table (no job group), then
ran, under job group ``scan#0``, a groupBy over two of its columns and,
under ``cache#0``, ``persist()`` of one column followed by two ``count()``
calls (the second served from the cache).

    python3 -m pytest perfbench/test_eventlog.py -q
"""

import json
import os

import pytest

from perfbench.eventlog import _top_level_fields, fold
from perfbench.layers import (
    LAYERS, Tracer, metric_names, per_layer_metrics, phase_of,
)

LOG = os.path.join(os.path.dirname(__file__), "testdata", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def groups():
    return fold(LOG)


def test_groups_and_counts(groups):
    assert set(groups) == {None, "scan#0", "cache#0"}
    scan = groups["scan#0"]
    assert sorted(scan.jobs) == [2, 3]
    # stage 3 is listed by job 3 but was skipped: only stages that ran count
    assert sorted(scan.stages) == [2, 4]
    assert scan.tasks == 3
    cache = groups["cache#0"]
    assert len(cache.jobs) == 5 and cache.tasks == 8


def test_task_metrics_are_summed(groups):
    scan = groups["scan#0"].as_dict()
    assert scan["executor_run_s"] == pytest.approx(0.664)
    assert scan["executor_cpu_s"] == pytest.approx(0.340647991)
    assert scan["gc_s"] == pytest.approx(0.1)
    assert scan["shuffle_write_mb"] == pytest.approx(353 / 1048576.0)
    assert scan["shuffle_read_mb"] == scan["shuffle_write_mb"]
    assert scan["spill_mb"] == 0.0


def test_task_skew_is_max_over_median_of_heaviest_stage(groups):
    # stage 2 (two tasks of 377 and 374 ms) carries most of the run time
    assert groups["scan#0"].task_skew == pytest.approx(377 / 375.5)


def test_call_sites(groups):
    assert groups["scan#0"].sites == {
        "collect at /data/job.py:10": pytest.approx(0.664)}


def test_scans_count_only_executions_that_read_files(groups):
    assert groups["scan#0"].scans == [(["file:/data/tbl"], ["doc_id", "n_tok"])]
    # persist + count reads the file once; the second count hits the cache
    assert groups["cache#0"].scans == [(["file:/data/tbl"], ["doc_id"])]
    assert groups[None].scans == []


def test_top_level_fields():
    assert _top_level_fields(
        "struct<doc_id:string,tokens:array<int>,m:map<string,int>,"
        "d:decimal(10,2)>") == ["doc_id", "tokens", "m", "d"]


def test_phase_of_reads_the_forcing_statement(tmp_path):
    suite = tmp_path / "plans" / "suite.py"
    suite.parent.mkdir()
    suite.write_text(
        "stats_rows = [\n"
        "    r for r in df\n"
        "    .collect()\n"
        "]\n"
        "pre_counts = {\n"
        "    r: 1 for r in v.collect()\n"
        "}\n"
    )
    assert phase_of("collect at {0}:3".format(suite)) == "stats_pass"
    assert phase_of("collect at {0}:6".format(suite)) == "violations_eval"
    assert phase_of("collect at /elsewhere/run.py:9") == "result"


def test_per_layer_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")) as fh:
        listed = [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]
    assert listed == metric_names()

    # the ledger produces every listed metric from a traced run's calls
    tracer = Tracer.__new__(Tracer)
    tracer.calls = [
        dict(layer=layer, group="scan#0", s=0.5, jobs=2, stages=2,
             extra={"rows_in": 10, "rows_out": 4})
        for layer, _qs in LAYERS
    ]
    metrics, _sites = per_layer_metrics(tracer, LOG, 0.1, 0.02)
    assert sorted(metrics) == sorted(name for name, _u in metric_names())
    assert metrics["operators.checks.fuse_row_checks.task_skew"]["value"] == (
        pytest.approx(377 / 375.5))
