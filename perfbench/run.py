#!/usr/bin/env python3
"""Benchmark of the datatest_spark validation engine.

    python3 perfbench/run.py --workload suite_clean --seed 1 --seconds 12 --trace 0

Run from the repository root. One process drives one workload as a closed
loop with a single client (the next operation starts when the previous one
returns) on ``local[<cpus>]``, checks every operation's output against an
oracle that does not use the engine, and prints a human report followed by
one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reruns the
loop with Spark's event log on, times every layer's public entry point
under its own job group (``layers.py``) and reports the per-layer metrics.
Workloads, metrics and the layer-to-metric table are described in
``perfbench/README.md``.

Inputs and oracle answers are generated once per (workload, seed, rows) and
cached under ``.perfbench/cache``; everything else the run writes goes to
``.perfbench/run-<pid>`` and is removed when it ends.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time


def _process_age():
    """Seconds since this process started (interpreter start included),
    from /proc at clock-tick resolution."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# the perf_counter reading at process start
T_START = time.perf_counter() - _process_age()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# the JVM heap: the session default (16g) exceeds a 15 GB host; these
# inputs need well under 1 GB
DRIVER_MEM = "2g"
# completed operations per loop at the least: a suite_dirty operation takes
# about 8 s, so a loop of a few seconds would otherwise hold only one or two
MIN_OPS = 4
# untimed, checked operations before the measured loop: the first suite run
# of a fresh JVM is about three times slower than a warm one (JIT, codegen
# caches); the loop's median absorbs the slower runs that follow it
WARMUP_OPS = 1

WORKLOADS = {
    "suite_clean": {"rows": 100_000, "dirty": False},
    "suite_dirty": {"rows": 100_000, "dirty": True},
}


# -- host: memory and noise stamps ------------------------------------------

def _tree_rss_kb(pid):
    """Resident kB of ``pid`` and all its descendants (the Python driver,
    its JVM and the JVM's Python workers)."""
    total = 0
    try:
        with open("/proc/{0}/status".format(pid)) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    total += int(line.split()[1])
        for task in os.listdir("/proc/{0}/task".format(pid)):
            with open("/proc/{0}/task/{1}/children".format(pid, task)) as fh:
                for child in fh.read().split():
                    total += _tree_rss_kb(int(child))
    except (OSError, ValueError):
        pass  # the process ended between listing and reading
    return total


class RssPeak(object):
    """Peak of the process tree's resident memory, sampled every 0.2 s
    while the measured loop runs."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self):
        while not self._stop.wait(0.2):
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
        return False


def _cpu_ticks():
    """(steal, total) jiffies from /proc/stat; total is user..steal."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def _loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


# -- Spark session -------------------------------------------------------------

def _confine(scratch):
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    return {
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            "-XX:G1HeapRegionSize=32m -XX:-UsePerfData "
            "-Djava.io.tmpdir=" + tmp
        ),
    }


def start_session(conf, cpus):
    """A fresh session; stops the active one first (the JVM stays up)."""
    from pyspark.sql import SparkSession

    from datatest_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    return get_spark(app_name="perfbench", master="local[{0}]".format(cpus),
                     extra_conf=conf)


# -- operations ------------------------------------------------------------------

class SuiteOp(object):
    """One ``north_star_suite(ALLOWED_SOURCES).run()`` over the table, timed
    until the verdicts are collected and the kept violations counted.
    With ``resume``: acceptances, a violations sink and a manifest, then a
    resumed rerun of the same run_id."""

    def __init__(self, spark, ctx, resume):
        from datatest_spark import accepted
        from datatest_spark.plans.suite import north_star_suite
        from datatest_spark.sources.synth import ALLOWED_SOURCES

        from perfbench.inputs import COUNT_BUDGET, TOLERANCE, expected_verdicts

        self.spark, self.ctx, self.resume = spark, ctx, resume
        acceptances = None
        if resume:
            acceptances = [
                accepted.tolerance(TOLERANCE) | accepted.count(COUNT_BUDGET)]
        self.suite = north_star_suite(ALLOWED_SOURCES, acceptances=acceptances)
        self.expected = expected_verdicts(
            ctx["answer"], [c.check_id for c in self.suite.checks], resume)
        self.kept = sum(n for _pk, _c, n in ctx["answer"][
            "post" if resume else "pre"])
        self.sink = os.path.join(ctx["scratch"], "sink")
        self.manifest = os.path.join(ctx["scratch"], "manifest")

    def _run(self, tracer, layer, run_id):
        from perfbench.layers import collect_suite

        df = self.spark.read.parquet(self.ctx["table"])
        kw = {}
        if self.resume:
            kw = dict(run_id=run_id, manifest_dir=self.manifest,
                      violations_sink=self.sink)
        out = tracer.run(layer, lambda: collect_suite(self.suite.run(df, **kw)))
        return out, tracer.calls[-1]["s"]

    def _check(self, verdicts, n_kept, n_rows, want_kept):
        from perfbench.inputs import verdict_mismatches

        errors = verdict_mismatches(verdicts, self.expected)
        if n_kept != want_kept:
            errors.append("kept {0} violations, oracle {1}".format(
                n_kept, want_kept))
        if n_rows != self.ctx["answer"]["n_rows"]:
            errors.append("n_rows_total {0}, oracle {1}".format(
                n_rows, self.ctx["answer"]["n_rows"]))
        return errors

    def __call__(self, i, tracer, deep_check=False):
        from perfbench.layers import RUN

        run_id = "op{0}".format(i)
        (verdicts, n, res), suite_s = self._run(tracer, RUN, run_id)
        errors = self._check(verdicts, n, res.n_rows_total, self.kept)
        timing = {"op_s": suite_s, "suite_s": suite_s,
                  "rows": self.ctx["answer"]["n_rows"]}
        if not self.resume:
            return timing, errors
        if deep_check:
            errors.extend(self._check_written(run_id))
        (verdicts, n, res), resume_s = self._run(tracer, RUN + ".resume", run_id)
        errors.extend("resume: " + e for e in self._check(
            verdicts, n, res.n_rows_total, 0))
        timing.update(op_s=suite_s + resume_s, resume_s=resume_s)
        return timing, errors

    def _check_written(self, run_id):
        """The sink holds the kept violations and the manifest records the
        oracle's pre-acceptance counts."""
        errors = []
        sunk = self.spark.read.parquet(
            os.path.join(self.sink, "run_id=" + run_id)).count()
        if sunk != self.kept:
            errors.append("sink holds {0} rows, oracle {1}".format(
                sunk, self.kept))
        pre = dict(((pk, c), n) for pk, c, n in self.ctx["answer"]["pre"])
        recorded = self.suite.completed_partition_metrics(
            self.spark, self.manifest, run_id)
        for pk in self.ctx["answer"]["partitions"]:
            for c in self.suite.checks:
                got = recorded.get(pk, {}).get("n_violations_pre__" + c.check_id)
                if got != float(pre.get((pk, c.check_id), 0)):
                    errors.append("manifest {0}/{1}: pre {2}, oracle {3}".format(
                        pk, c.check_id, got, pre.get((pk, c.check_id), 0)))
        return errors


class Tally(object):
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors = []

    def add(self, errors):
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(errors[:3])


def closed_loop(spark, op, tracer, seconds, tally, first_index):
    """Run operations back to back for ``seconds``, and at least MIN_OPS
    completed ones unless they keep raising. Returns the timing dicts of the
    operations that completed."""
    samples = []
    i = first_index
    t_end = time.perf_counter() + seconds
    while (time.perf_counter() < t_end
           or (len(samples) < MIN_OPS and i - first_index < 3 * MIN_OPS)):
        spark.catalog.clearCache()
        try:
            timing, errors = op(i, tracer)
            samples.append(timing)
        except Exception as exc:  # an operation that raises counts as failed
            errors = ["{0}: {1}".format(type(exc).__name__, exc)[:400]]
        tally.add(errors)
        i += 1
    if not samples:
        raise RuntimeError("no operation completed: " + "; ".join(tally.errors[:3]))
    return samples


# -- the run -------------------------------------------------------------------

def _p50(samples, key):
    return statistics.median(s[key] for s in samples)


def _report_samples(samples, out):
    ops = [s["op_s"] for s in samples]
    out.append("ops: n={0} op_s_p50={1:.4f} s min={2:.4f} max={3:.4f}".format(
        len(ops), statistics.median(ops), min(ops), max(ops)))
    out.append("op_s in order: " + " ".join("%.3f" % v for v in ops))
    suite = _p50(samples, "suite_s")
    out.append("suite_s_p50={0:.4f} s  validated_rows_per_s={1:.1f} 1/s".format(
        suite, samples[0]["rows"] / suite))
    if "resume_s" in samples[0]:
        out.append("resume_s_p50={0:.4f} s".format(_p50(samples, "resume_s")))


def _job_counts(tracer, out):
    layers = {}
    for c in tracer.calls:
        layers.setdefault(c["layer"], set()).add((c["jobs"], c["stages"]))
    for layer, counts in sorted(layers.items()):
        out.append("spark per call: {0} (jobs, stages) in {1}".format(
            layer, sorted(counts)))


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    cfg = WORKLOADS[args.workload]

    if not os.path.isdir(os.path.join(ROOT, "datatest_spark")):
        sys.exit("perfbench: no datatest_spark package beside "
                 "perfbench/; run from a full checkout")
    sys.path.insert(0, ROOT)
    scratch = os.path.join(WORK, "run-{0}".format(os.getpid()))
    os.makedirs(scratch)
    # a timeout's SIGTERM still stops Spark and removes the run's files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, cfg, scratch)
    finally:
        try:
            _stop_spark()
        finally:
            # also when the JVM is already gone and stop() raises
            shutil.rmtree(scratch, ignore_errors=True)


def _stop_spark():
    """Stop the session, then end the JVM and wait for it: the JVM exits
    when its stdin closes, which would otherwise happen only after this
    process has exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        jvm.stdin.close()
        jvm.wait(timeout=60)


def _setup(args, cfg, conf):
    """Start the session and load the inputs and oracle answers, generating
    them on a cache miss. The table is read with its cached schema, so set-up
    runs no Spark job: a cold JVM's first jobs are up to 2 s slower than
    those of a JVM that has just generated the inputs, and set-up should time
    the same work on a cache hit and a miss. Returns (spark, cache dir,
    (answer, sample), seconds) where seconds holds ``setup_s`` (from process
    start, without the generation), ``get_spark_s`` and ``gen_s``."""
    from pyspark.sql.types import StructType

    from perfbench import inputs

    t0 = time.perf_counter()
    spark = start_session(conf, len(os.sched_getaffinity(0)))
    get_spark_s = time.perf_counter() - t0
    cache, gen_s = inputs.ensure(
        spark, WORK, args.workload, args.seed, cfg["rows"],
        inputs.DIRTY if cfg["dirty"] else {})
    answer, sample, schema = inputs.load(cache)
    spark.read.schema(StructType.fromJson(schema)).parquet(
        os.path.join(cache, "table"))
    setup_s = time.perf_counter() - T_START - gen_s
    return spark, cache, (answer, sample), dict(
        setup_s=setup_s, get_spark_s=get_spark_s, gen_s=gen_s)


def _run(args, cfg, scratch):
    conf = _confine(scratch)
    from perfbench import api_mix, layers

    cpus = len(os.sched_getaffinity(0))
    load0 = _loadavg()
    steal0, total0 = _cpu_ticks()
    report = ["perfbench workload={0} seed={1} rows={2} cpus={3} trace={4}".format(
        args.workload, args.seed, cfg["rows"], cpus, args.trace)]

    # setup_s is one cold set-up, from process start
    spark, cache, (answer, sample), seconds = _setup(args, cfg, conf)
    gen_s = seconds["gen_s"]
    report.append("inputs: {0}".format(
        "generated in {0:.2f} s (cache miss; not part of setup_s)".format(gen_s)
        if gen_s else "cached"))
    report.append("setup_s={0:.4f} s".format(seconds["setup_s"]))

    ctx = dict(table=os.path.join(cache, "table"), cache=cache, answer=answer,
               scratch=scratch, root=ROOT,
               specs=api_mix.build_specs(sample, args.seed))
    tally = Tally()
    tracer = layers.Tracer(spark)
    op = SuiteOp(spark, ctx, resume=cfg["dirty"])
    for i in range(WARMUP_OPS):
        _timing, errors = op(i, tracer, deep_check=(i == 0))
        tally.add(errors)
    with RssPeak() as rss:
        samples = closed_loop(spark, op, tracer, args.seconds, tally,
                              WARMUP_OPS)
    _report_samples(samples, report)
    _job_counts(tracer, report)

    if args.trace:
        metrics = _traced(args, conf, cpus, ctx, samples, tally, report,
                          seconds["get_spark_s"])
    else:
        suite_s = _p50(samples, "suite_s")
        metrics = {
            "setup_s": {"value": seconds["setup_s"], "unit": "s"},
            "suite_s_p50": {"value": suite_s, "unit": "s"},
            "op_s_p50": {"value": _p50(samples, "op_s"), "unit": "s"},
            "validated_rows_per_s": {
                "value": samples[0]["rows"] / suite_s, "unit": "1/s"},
            "peak_rss_mb": {"value": rss.peak_kb / 1024.0, "unit": "MB"},
        }
        report.append("peak_rss_mb={0:.1f}".format(rss.peak_kb / 1024.0))

    steal1, total1 = _cpu_ticks()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    noisy = load0 >= cpus or steal >= 0.01
    report.append("host: loadavg_1m_start={0:.2f} steal_frac={1:.4f} {2}".format(
        load0, steal, "NOISY (flag only)" if noisy else "quiet"))
    report.append("failed_frac={0}/{1}".format(tally.failed, tally.attempted))
    for e in tally.errors[:10]:
        report.append("FAILED: " + e)
    print("\n".join(report))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


def _traced(args, conf, cpus, ctx, base, tally, report, get_spark_s):
    """Rerun the loop with the event log on, then the layer sweep."""
    from perfbench import layers

    events = os.path.join(ctx["scratch"], "events")
    os.makedirs(events)
    traced_conf = dict(conf, **{
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file:" + events,
    })
    spark = start_session(traced_conf, cpus)
    tracer = layers.Tracer(spark)
    # the process's first get_spark, which launched the JVM
    tracer.timed("session.get_spark", get_spark_s)
    op = SuiteOp(spark, ctx, resume=WORKLOADS[args.workload]["dirty"])
    samples = closed_loop(spark, op, tracer, args.seconds, tally, 10_000)
    failures, sink_mb = layers.sweep(spark, tracer, ctx)
    tally.add(failures)
    spark.stop()
    logs = [f for f in glob.glob(os.path.join(events, "*"))
            if not f.endswith(".inprogress")]
    overhead = _p50(samples, "suite_s") - _p50(base, "suite_s")
    metrics, sites = layers.per_layer_metrics(tracer, logs[0], sink_mb, overhead)
    report.append("traced loop:")
    _report_samples(samples, report)
    report.append("tracing overhead on suite_s_p50: {0:+.4f} s".format(overhead))
    for key, run_s in sites.items():
        report.append("suite run executor_run_s p50 by {0}: {1:.4f} s".format(
            key, run_s))
    return metrics


if __name__ == "__main__":
    sys.exit(main())
