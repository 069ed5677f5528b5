"""Traced run: time each layer's public entry point under its own job group.

``Tracer.run(layer, fn)`` calls ``fn`` under the Spark job group
``<layer>#<n>``, times it on the driver and records the job and stage
counts the status tracker lists for the group. After the session stops,
``per_layer_metrics`` folds the event log (``eventlog.fold``) by job group
and reports, for every layer, the median over its calls of each quantity.

``sweep`` calls every layer once on the workload's own inputs, so each
traced run reports every layer whatever its workload's operation is.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import re
import statistics
import time

from . import api_mix
from .eventlog import MB, fold

RUN = "plans.suite.ValidationSuite.run"
PHASES = ("stats_pass", "violations_eval")
# (keyword in the forcing statement of suite.py, phase name); a stage's
# call site names the suite.py line that forced it
_PHASE_KEYS = (
    ("stats_rows", "stats_pass"),
    ("pre_counts", "violations_eval"),
    ("post_counts", "acceptances"),
    ("parquet(out)", "sink_write"),
    ("mdf", "manifest"),
)
_SITE = re.compile(r"^\S+ at (.+):(\d+)$")
CORPUS_LAYERS = (
    "operators.text.token_run_stats",
    "operators.text.token_entropy",
    "operators.packing.mixture_plan",
    "operators.packing.hash_split",
)
ENGINE_QUANTITIES = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "task_skew",
)

# layer -> quantities reported; quantities not produced by the event log
# ("s" and the row counts) are recorded by the Tracer itself
LAYERS = (
    ("session.get_spark", ("s",)),
    ("operators.checks.fuse_row_checks",
     ("s", "executor_cpu_s", "gc_s", "input_mb", "rows_out", "task_skew")),
    ("operators.stats.column_stats",
     ("s", "executor_cpu_s", "input_mb", "shuffle_write_mb", "task_skew")),
    ("operators.checks.UniquenessCheck.violations",
     ("s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_skew",
      "rows_out")),
    ("acceptances.apply.tolerance", ("s", "rows_in", "rows_out")),
    ("acceptances.apply.count", ("s", "rows_in", "rows_out")),
    ("plans.suite.ValidationSuite.completed_partition_metrics", ("s",)),
    (RUN, ("s", "jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
           "shuffle_write_mb", "spill_mb")),
    ("validation.validate", ("s", "jobs", "stages", "tasks")),
    ("session.createDataFrame", ("s",)),
    ("requirements.violations", ("s", "jobs")),
    ("acceptances.filter_differences", ("s",)),
) + tuple(
    # no gc_s: on a 2% slice these calls finish between collections, and a
    # time that reads 0.0 on every run measures nothing
    (name, ("s", "executor_cpu_s", "shuffle_write_mb"))
    for name in CORPUS_LAYERS
) + (
    ("jobs.prepare_corpus.prepare",
     ("s", "executor_cpu_s", "gc_s", "shuffle_write_mb")),
)
UNITS = {
    "s": "s", "executor_cpu_s": "s", "gc_s": "s", "executor_run_s": "s",
    "input_mb": "MB", "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
    "spill_mb": "MB", "task_skew": "ratio", "rows_in": "count",
    "rows_out": "count", "jobs": "count", "stages": "count", "tasks": "count",
}
EXTRA_METRICS = (
    ("plans.suite.sink_mb", "MB"),
    (RUN + ".stats_pass.executor_run_s", "s"),
    (RUN + ".violations_eval.executor_run_s", "s"),
    ("bench.trace_overhead_s", "s"),
)


def metric_names():
    """[(name, unit)] of every per-layer metric, in BENCHMARK.json order."""
    out = []
    for layer, qs in LAYERS:
        out.extend((layer + "." + q, UNITS[q]) for q in qs)
    return out + list(EXTRA_METRICS)


class Tracer(object):
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.calls = []  # dicts: layer, group, s, jobs, stages, extra

    def run(self, layer, fn, **extra):
        group = "{0}#{1}".format(
            layer, sum(1 for c in self.calls if c["layer"] == layer))
        self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            dt = time.perf_counter() - t0
            self.sc.setJobGroup("idle", "")
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stages = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            stages += len(info.stageIds) if info is not None else 0
        self.calls.append(dict(layer=layer, group=group, s=dt, jobs=len(jobs),
                               stages=stages, extra=dict(extra)))
        return out

    def note(self, **extra):
        """Attach values known only after the call to the latest call."""
        self.calls[-1]["extra"].update(extra)

    def timed(self, layer, seconds):
        """Record a call timed outside the tracer (no Spark jobs)."""
        self.calls.append(dict(layer=layer, group=None, s=seconds, jobs=0,
                               stages=0, extra={}))


def scan_mb(scans):
    """Compressed parquet bytes of the columns each scan reads: the sum of
    the column chunks, over every row group of every file at the scan's
    location, whose top-level column the scan's ReadSchema names. (Spark's
    task-level "Bytes Read" counts only the footer reads of local parquet.)"""
    import pyarrow.parquet as pq

    total = 0
    roots = [(p[len("file:"):] if p.startswith("file:") else p, set(cols))
             for paths, cols in scans for p in paths]
    for root, wanted in roots:
        for base, _dirs, files in os.walk(root):
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                meta = pq.ParquetFile(os.path.join(base, name)).metadata
                for g in range(meta.num_row_groups):
                    rg = meta.row_group(g)
                    for c in range(rg.num_columns):
                        chunk = rg.column(c)
                        if chunk.path_in_schema.split(".")[0] in wanted:
                            total += chunk.total_compressed_size
    return total / MB


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _dir_mb(path):
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / MB


def phase_of(site):
    """Suite phase of a stage call site such as
    ``collect at .../datatest_spark/plans/suite.py:325``: the phase whose
    result variable the forcing statement assigns; 'result' for sites
    outside suite.py (the benchmark collecting the verdicts)."""
    m = _SITE.match(site)
    if not m or not m.group(1).endswith(os.path.join("plans", "suite.py")):
        return "result"
    path, line = m.group(1), int(m.group(2))
    with open(path) as fh:
        lines = fh.read().splitlines()
    for i in range(line - 1, max(-1, line - 10), -1):
        for key, phase in _PHASE_KEYS:
            if key in lines[i]:
                return phase
    return "other"


def _load_prepare_job(root):
    path = os.path.join(root, "jobs", "prepare_corpus.py")
    spec = importlib.util.spec_from_file_location("prepare_corpus", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def sweep(spark, tracer, ctx):
    """Call every layer once on this workload's inputs. ``ctx`` carries
    ``table`` (parquet path), ``scratch`` (a run-private dir), ``root``,
    ``specs``, ``answer`` and ``cache``. Returns (failed output checks,
    sink MB)."""
    from pyspark.sql import functions as F

    from datatest_spark.acceptances import AcceptedCount, AcceptedTolerance
    from datatest_spark.operators.checks import (
        SchemaConformanceCheck, UniquenessCheck, fuse_row_checks,
    )
    from datatest_spark.operators.packing import hash_split, mixture_plan
    from datatest_spark.operators.stats import column_stats, partition_key_col
    from datatest_spark.operators.text import token_entropy, token_run_stats
    from datatest_spark.plans.suite import north_star_suite
    from datatest_spark.sources.synth import ALLOWED_SOURCES

    from .inputs import (
        COUNT_BUDGET, TOLERANCE, expected_verdicts, verdict_mismatches,
    )

    failures = []
    table = spark.read.parquet(ctx["table"])
    keyed = table.withColumn("partition_key", partition_key_col(["source"]))
    plain = north_star_suite(ALLOWED_SOURCES)
    fusable = [
        c for c in plain.checks
        if not c.uses_stats and not isinstance(c, SchemaConformanceCheck)
        and c.row_conditions(keyed) is not None
    ]

    # -- the suite's scans, one layer at a time ------------------------------
    tracer.run("operators.stats.column_stats", lambda: column_stats(
        table, ["source"], ["doc_id", "n_tok", "source"]).collect())
    fused = fuse_row_checks(keyed, fusable)
    rows = tracer.run("operators.checks.fuse_row_checks", fused.collect)
    tracer.note(rows_out=len(rows))
    uniq = UniquenessCheck("doc_id").violations(keyed)
    rows = tracer.run("operators.checks.UniquenessCheck.violations", uniq.collect)
    tracer.note(rows_out=len(rows))

    violations = fused.unionByName(uniq).persist()
    n_in = violations.count()
    tolerated = AcceptedTolerance(TOLERANCE).apply(violations).persist()
    n_tol = tracer.run("acceptances.apply.tolerance", tolerated.count,
                       rows_in=n_in)
    tracer.note(rows_out=n_tol)
    n_cnt = tracer.run("acceptances.apply.count",
                       AcceptedCount(COUNT_BUDGET).apply(tolerated).count,
                       rows_in=n_tol)
    tracer.note(rows_out=n_cnt)
    if n_cnt != max(0, n_tol - COUNT_BUDGET):
        failures.append("count acceptance left {0} of {1} rows".format(
            n_cnt, n_tol))
    tolerated.unpersist()
    violations.unpersist()

    # -- a suite run with acceptances, sink and manifest ---------------------
    from datatest_spark import accepted

    suite = north_star_suite(
        ALLOWED_SOURCES,
        acceptances=[accepted.tolerance(TOLERANCE) | accepted.count(COUNT_BUDGET)],
    )
    sink = os.path.join(ctx["scratch"], "sweep_sink")
    manifest = os.path.join(ctx["scratch"], "sweep_manifest")
    res = tracer.run("sweep.suite_sink", lambda: collect_suite(suite.run(
        table, run_id="sweep", manifest_dir=manifest, violations_sink=sink)))
    done = tracer.run(
        "plans.suite.ValidationSuite.completed_partition_metrics",
        lambda: suite.completed_partition_metrics(spark, manifest, "sweep"))
    if len(done) != len(ctx["answer"]["partitions"]):
        failures.append("manifest lists {0} partitions, oracle {1}".format(
            len(done), len(ctx["answer"]["partitions"])))
    sink_mb = _dir_mb(sink)
    failures.extend(verdict_mismatches(res[0], expected_verdicts(
        ctx["answer"], [c.check_id for c in suite.checks], accepting=True)))
    kept = sum(n for _pk, _c, n in ctx["answer"]["post"])
    if res[1] != kept:
        failures.append("sweep suite kept {0} violations, oracle {1}".format(
            res[1], kept))

    # -- the datatest API layers ----------------------------------------------
    for spec in ctx["specs"][:len(api_mix.KINDS)]:
        rows, cols, kw = api_mix.frame_args(spec)
        tracer.run("session.createDataFrame",
                   lambda: _noop(spark.createDataFrame(rows, cols)))
        frame = spark.createDataFrame(rows, cols)
        req = api_mix.requirement(spec)
        tracer.run("requirements.violations",
                   lambda: req.violations(frame, **kw).collect())
        acc = api_mix.acceptance(spec) or accepted.count(1)
        raw = api_mix.raw_differences(spec)
        t0 = time.perf_counter()
        acc.filter_differences(raw)
        tracer.timed("acceptances.filter_differences", time.perf_counter() - t0)
        got = tracer.run("validation.validate", lambda: api_mix.call(spec))
        bad = api_mix.mismatch(spec, got)
        if bad:
            failures.append(bad)

    # -- corpus preparation on a 2% slice ---------------------------------------
    corpus_in = os.path.join(ctx["scratch"], "corpus_in")
    table.where(F.pmod(F.xxhash64("doc_id"), F.lit(50)) == 0).write.parquet(
        corpus_in)
    corpus = spark.read.parquet(corpus_in)
    tracer.run("operators.text.token_run_stats",
               lambda: _noop(token_run_stats(corpus)))
    tracer.run("operators.text.token_entropy",
               lambda: _noop(token_entropy(corpus)))
    budget = dict((s, 200_000) for s in ALLOWED_SOURCES)
    tracer.run("operators.packing.mixture_plan",
               lambda: mixture_plan(corpus, budget).collect())
    splits = {"train": 0.9, "val": 0.05, "test": 0.05}
    tracer.run("operators.packing.hash_split",
               lambda: _noop(hash_split(corpus, splits)))
    job = _load_prepare_job(ctx["root"])
    out_dir = os.path.join(ctx["scratch"], "prepared")
    args = job.build_parser().parse_args([
        "--input", corpus_in, "--output", out_dir, "--target-tokens",
        ",".join("{0}={1}".format(s, n) for s, n in sorted(budget.items())),
    ])
    with contextlib.redirect_stdout(io.StringIO()):
        tracer.run("jobs.prepare_corpus.prepare", lambda: job.prepare(spark, args))
    failures.extend(_check_prepared(spark, corpus, out_dir, ctx["cache"]))
    return failures, sink_mb


def collect_suite(res):
    """Force a suite result the way the CLI reads it: collect the verdicts
    and count the kept violations."""
    verdicts = [r.asDict() for r in res.verdicts.collect()]
    n = res.violations.count()
    res.unpersist()
    return verdicts, n, res


def _check_prepared(spark, corpus, out_dir, cache):
    """Split invariants of prepare()'s output, and its split counts against
    the first run's reference for these inputs."""
    import json

    from pyspark.sql import functions as F

    out = spark.read.parquet(out_dir)
    failures = []
    multi = out.groupBy("doc_id").agg(
        F.countDistinct("split").alias("n")).where("n > 1").count()
    if multi:
        failures.append("prepare: {0} doc_ids in two splits".format(multi))
    stray = out.join(corpus, "doc_id", "left_anti").count()
    if stray:
        failures.append("prepare: {0} output doc_ids not in input".format(stray))
    counts = dict((r["split"], r["n"]) for r in out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect())
    ref = os.path.join(cache, "prepare_reference.json")
    if os.path.exists(ref):
        with open(ref) as fh:
            want = json.load(fh)
        if counts != want:
            failures.append("prepare: split counts {0}, reference {1}".format(
                counts, want))
    else:
        with open(ref, "w") as fh:
            json.dump(counts, fh)
    return failures


def per_layer_metrics(tracer, event_log, sink_mb, overhead_s):
    """{name: {"value", "unit"}} for every per-layer metric, plus the
    per-call-site executor time of the suite run (for the human report)."""
    groups = fold(event_log)
    by_layer = {}
    for call in tracer.calls:
        cost = groups.get(call["group"])
        row = dict(cost.as_dict()) if cost is not None else dict(
            (q, 0) for q in ENGINE_QUANTITIES)
        row["input_mb"] = scan_mb(cost.scans) if cost is not None else 0.0
        row.update(s=call["s"], jobs=call["jobs"], stages=call["stages"])
        row.update(call["extra"])
        if cost is not None and call["layer"] == RUN:
            for site, run_s in cost.sites.items():
                key = phase_of(site)
                row["phase." + key] = row.get("phase." + key, 0.0) + run_s
                row["site." + site] = run_s
        by_layer.setdefault(call["layer"], []).append(row)

    metrics = {}
    for layer, qs in LAYERS:
        rows = by_layer.get(layer)
        if not rows:
            raise RuntimeError("traced run made no call to " + layer)
        for q in qs:
            metrics[layer + "." + q] = {
                "value": statistics.median(r[q] for r in rows), "unit": UNITS[q]}
    runs = by_layer[RUN]
    for phase in PHASES:
        metrics[RUN + "." + phase + ".executor_run_s"] = {
            "value": statistics.median(r.get("phase." + phase, 0.0) for r in runs),
            "unit": "s"}
    metrics["plans.suite.sink_mb"] = {"value": sink_mb, "unit": "MB"}
    metrics["bench.trace_overhead_s"] = {"value": overhead_s, "unit": "s"}
    sites = {}
    for r in runs:
        for k, v in r.items():
            if k.startswith("site.") or k.startswith("phase."):
                sites.setdefault(k, []).append(v)
    return metrics, dict((k, statistics.median(v)) for k, v in sorted(sites.items()))
