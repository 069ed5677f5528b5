"""Validation suite runner (SURVEY §3.1 engine pipeline, §7.0 runner.py).

Plans one job per *shuffle family* (SURVEY §3.1): (a) the single wide
stats aggregation (C1) — ``n_rows`` plus the stats the partition-level
checks declare, (b) the anti-join family, (c) per-row predicate scans —
then unions the violation plans, applies distributed acceptances,
computes per-partition verdicts (C4) and writes the checkpoint manifest
(C3) so interrupted runs resume by anti-joining the partition list
against completed manifest entries.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..differences import ValidationError
from ..schema import MANIFEST_SCHEMA, VERDICT_SCHEMA, VIOLATION_SCHEMA
from ..session import local_frame
from ..validation import _rows_to_differences
from ..operators.checks import SchemaConformanceCheck, fuse_row_conditions
from ..operators.drift import DriftCheck
from ..operators.stats import declared_stat_exprs, partition_key_col


class SuiteResult(object):
    def __init__(self, run_id, violations, verdicts, stats_rows, wall_ms,
                 n_rows_total, persisted=None, phases=None):
        self.run_id = run_id
        self.violations = violations      # DataFrame (post-acceptance)
        self.verdicts = verdicts          # DataFrame
        # list[dict], one per partition: partition_key, n_rows and the
        # stats the checks declare (BaseCheck.stat_names), nothing else
        self.stats_rows = stats_rows
        self.wall_ms = wall_ms
        self.n_rows_total = n_rows_total
        # {phase: wall seconds}, in run order (see ValidationSuite.run)
        self.phases = dict(phases or {})
        self._persisted = list(persisted or [])

    def unpersist(self):
        """Release the cached violation frames. ``run()`` persists them so
        verdict counts and the caller's reads of ``.violations`` share one
        materialization; callers running many suites in one session should
        call this when done (the frames recompute if read afterwards)."""
        for df in self._persisted:
            df.unpersist()
        self._persisted = []

    @property
    def failed(self):
        return any(r["status"] == "fail" for r in self.verdicts.collect())

    def raise_if_failed(self, limit=1000):
        """The pytest adapter: ValidationError mirroring the reference."""
        rows = [r.asDict() for r in self.violations.limit(limit).collect()]
        if rows:
            raise ValidationError(
                _rows_to_differences(rows, stringy_value=True),
                "validation suite {0} failed".format(self.run_id),
            )


class ValidationSuite(object):
    """Composable check suite over a partitioned table.

    ``checks`` are operators/checks.py objects; ``acceptances`` are
    acceptance objects applied distributed (SURVEY §3.2) before verdicts.
    The wide stats pass computes ``n_rows`` plus the stats the checks
    declare, so it reads only the columns those stats name.
    """

    def __init__(self, checks, partition_cols=("source",), acceptances=None):
        self.checks = list(checks)
        self.partition_cols = list(partition_cols)
        self.acceptances = list(acceptances or [])

    # -- manifest / resume (C3) -------------------------------------------
    @staticmethod
    def _manifest_path(manifest_dir, run_id):
        return os.path.join(manifest_dir, "run_id={0}".format(run_id))

    def completed_partitions(self, spark, manifest_dir, run_id):
        return set(self.completed_partition_metrics(spark, manifest_dir,
                                                    run_id))

    def _manifest_rows(self, spark, manifest_dir, run_id):
        """Collected manifest rows for run_id ([] when none exists) —
        ONE read serving both the resume skip-set and the input-hash
        guard."""
        path = self._manifest_path(manifest_dir, run_id)
        try:
            mdf = spark.read.schema(MANIFEST_SCHEMA).parquet(path)
        except Exception:
            return []
        return mdf.select(
            "partition_key", "checks_done", "metrics", "completed_at",
            "input_files_hash", "input_snapshot_id",
        ).collect()

    @staticmethod
    def _latest_rows(rows):
        """Latest manifest row per partition (the file is append-only
        across resumes; latest-wins is THE read rule — the skip-set and
        both lineage guards must share it, or a re-validation of the
        same run_id with new data permanently poisons its guards)."""
        latest = {}
        for r in sorted(rows, key=lambda r: (r["completed_at"] is not None,
                                             r["completed_at"])):
            latest[r["partition_key"]] = r
        return list(latest.values())

    def _metrics_from_rows(self, rows):
        """{partition_key: metrics map} for partitions whose recorded
        ``checks_done`` covers this suite's checks (latest manifest row
        per partition wins)."""
        check_ids = set(c.check_id for c in self.checks)
        out = {}
        for r in self._latest_rows(rows):
            if check_ids <= set(r["checks_done"] or []):
                out[r["partition_key"]] = dict(r["metrics"] or {})
        return out

    def completed_partition_metrics(self, spark, manifest_dir, run_id):
        return self._metrics_from_rows(
            self._manifest_rows(spark, manifest_dir, run_id)
        )

    def _write_manifest(self, spark, manifest_dir, run_id, partition_rows,
                        input_files_hash, input_snapshot_id=None):
        import datetime

        path = self._manifest_path(manifest_dir, run_id)
        now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
        if input_snapshot_id is not None:
            input_snapshot_id = str(input_snapshot_id)
        rows = [
            (
                run_id,
                pk,
                input_snapshot_id,
                input_files_hash,
                [c.check_id for c in self.checks],
                metrics,
                now,
            )
            for pk, metrics in partition_rows
        ]
        mdf = local_frame(spark, rows, MANIFEST_SCHEMA)
        mdf.coalesce(1).write.mode("append").parquet(path)

    # -- main entry ---------------------------------------------------------
    @staticmethod
    def _lock_path(manifest_dir, run_id):
        return os.path.join(manifest_dir, "run_id={0}.lock".format(run_id))

    def run(self, df: DataFrame, run_id=None, manifest_dir=None, resume=True,
            violations_sink=None, input_snapshot_id=None) -> SuiteResult:
        """Single-writer contract per (manifest_dir, run_id): the resume
        skip-set is read at the start and the sink append / manifest
        write happen at the end, so two invocations of the SAME run_id
        racing would each see the other's partitions as un-validated and
        duplicate their violation rows. A lock file (atomic O_EXCL
        create) in the manifest dir serializes them; a second concurrent
        invocation fails fast with instructions. Only local/POSIX
        manifest dirs are lockable — object-store paths (`://`) skip the
        lock and the single-writer discipline falls to the orchestrator
        (documented, same as Delta-less parquet sinks everywhere).

        ``SuiteResult.phases`` records the wall seconds of each phase,
        in order: setup, stats_pass, plan_build, violations_eval,
        acceptances, sink_write, verdicts_manifest — the first place to
        look when a run's scaling is worse than its data volume explains
        (time in the scans, or in driver-side gaps?)."""
        run_id = run_id or uuid.uuid4().hex[:12]
        lock_path = None
        lock_fd = None
        if manifest_dir and "://" not in str(manifest_dir):
            os.makedirs(manifest_dir, exist_ok=True)
            lock_path = self._lock_path(manifest_dir, run_id)
            try:
                lock_fd = os.open(
                    lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
            except FileExistsError:
                raise RuntimeError(
                    "run_id {0!r} is already being validated (lock file "
                    "{1} exists): manifest + violations-sink writes are "
                    "single-writer per run_id — a concurrent resume would "
                    "duplicate violation rows. If the other run crashed, "
                    "delete the lock file and retry.".format(
                        run_id, lock_path
                    )
                )
        try:
            if lock_fd is not None:
                # inside the try: a failed write (ENOSPC) must still
                # release the lock, or every retry needs manual cleanup
                os.write(
                    lock_fd,
                    "pid={0} ts={1}\n".format(
                        os.getpid(), int(time.time())
                    ).encode(),
                )
            return self._run_impl(
                df, run_id, manifest_dir, resume, violations_sink,
                input_snapshot_id,
            )
        finally:
            if lock_fd is not None:
                os.close(lock_fd)
                try:
                    os.unlink(lock_path)
                except OSError:
                    pass

    def _run_impl(self, df, run_id, manifest_dir, resume,
                  violations_sink, input_snapshot_id=None) -> SuiteResult:
        spark = df.sparkSession
        t0 = time.time()
        marks = [(None, time.perf_counter())]

        def _mark(name):
            marks.append((name, time.perf_counter()))

        keyed = df.withColumn(
            "partition_key", partition_key_col(self.partition_cols)
        )
        # built before any job: a stat no column supports raises here
        stat_exprs = declared_stat_exprs(df, dict.fromkeys(
            n for c in self.checks if c.uses_stats for n in c.stat_names()
        ))

        input_files_hash = None
        try:
            files = sorted(df.inputFiles())
            if files:
                import hashlib

                input_files_hash = hashlib.sha256(
                    "\n".join(files).encode()
                ).hexdigest()[:16]
        except Exception:
            pass

        skipped_metrics = {}
        if resume and manifest_dir:
            # ONE manifest read serves both the input-hash guard and the
            # skip-set. A resumed run_id must be the SAME dataset:
            # re-emitting recorded verdicts for different input would be
            # a false pass on data that was never validated. Unhashable
            # inputs (no files — e.g. in-memory frames) skip the guard.
            mrows = self._manifest_rows(spark, manifest_dir, run_id)
            # both lineage guards read the LATEST row per partition —
            # the same latest-wins rule as the skip-set. Comparing all
            # appended rows would poison a run_id forever after one
            # legitimate resume=False re-validation (old rows keep the
            # old hash/snapshot alongside the new ones).
            latest = self._latest_rows(mrows)
            # lineage guard #2: a resumed run_id must also be the SAME
            # table snapshot when snapshot ids are being recorded
            # (Iceberg path; the parquet twin records None and skips)
            rec_snap = {
                r["input_snapshot_id"] for r in latest
                if r["input_snapshot_id"] is not None
            }
            if rec_snap and input_snapshot_id and (
                rec_snap != {str(input_snapshot_id)}
            ):
                raise ValueError(
                    "resume refused for run_id %r: manifest records input "
                    "snapshot %s but the current run reads snapshot %s — "
                    "pass resume=False or a new run_id to validate a "
                    "different snapshot" % (
                        run_id, sorted(rec_snap), input_snapshot_id,
                    )
                )
            recorded = {
                r["input_files_hash"] for r in latest
                if r["input_files_hash"] is not None
            }
            if recorded and input_files_hash and (
                recorded != {input_files_hash}
            ):
                raise ValueError(
                    "resume refused for run_id %r: manifest records input "
                    "hash %s but the current input hashes to %s — pass "
                    "resume=False (CLI: --no-resume) or a new run_id to "
                    "validate different data" % (
                        run_id, sorted(recorded), input_files_hash,
                    )
                )
            skipped_metrics = self._metrics_from_rows(mrows)
            if skipped_metrics:
                keyed = keyed.filter(
                    ~F.col("partition_key").isin(list(skipped_metrics))
                )
        _mark("setup")
        skipped = set(skipped_metrics)
        resumed_rows = sum(
            int(m.get("n_rows") or 0) for m in skipped_metrics.values()
        )

        # (a) the single wide aggregation pass (C1): Spark's map-side
        # partial aggregation combines every metric before the one
        # shuffle, which absorbs a hot partition key
        stats_rows = [
            r.asDict()
            for r in keyed.groupBy("partition_key").agg(*stat_exprs).collect()
        ]
        _mark("stats_pass")
        # resumed partitions count toward the total: a monitor comparing
        # n_rows against the expected table size must not false-alarm on
        # every resumed run
        n_rows_total = sum(r["n_rows"] for r in stats_rows) + resumed_rows
        all_partitions = sorted(r["partition_key"] for r in stats_rows)

        # (b)+(c) violation plans per check. Row-level checks that expose
        # row_conditions() are FUSED into one input scan (shuffle family
        # (c) = exactly one job); join/agg checks keep dedicated plans.
        # Each check's conditions are built once and handed to the fuser.
        driver_rows = []
        plans = []
        fusable = []
        for check in self.checks:
            if isinstance(check, SchemaConformanceCheck):
                for d in check.schema_violations(keyed):
                    d.setdefault("check_id", check.check_id)
                    driver_rows.append(d)
            elif isinstance(check, DriftCheck):
                driver_rows.extend(check.drift_violations(keyed))
            elif check.uses_stats:
                driver_rows.extend(check.stats_violations(stats_rows))
            else:
                conds = check.row_conditions(keyed)
                if conds is not None:
                    fusable.append((check.check_id, conds))
                else:
                    plan = check.violations(keyed)
                    if plan is not None:
                        plans.append(plan)
        fused = fuse_row_conditions(keyed, fusable)
        if fused is not None:
            plans.append(fused)

        _mark("plan_build")

        def _with_run_id(p):
            return p.select(
                F.lit(run_id).alias("run_id"), *[c for c in VIOLATION_SCHEMA.names if c != "run_id"]
            )

        violations = None
        for p in plans:
            p = _with_run_id(p)
            violations = p if violations is None else violations.unionByName(p)
        if driver_rows:
            rows = [
                (
                    run_id,
                    d.get("check_id"),
                    d["kind"],
                    d.get("partition_key"),
                    d.get("group_key"),
                    d.get("doc_id"),
                    d.get("value"),
                    d.get("expected"),
                    d.get("deviation"),
                    d.get("detail"),
                )
                for d in driver_rows
            ]
            ddf = local_frame(spark, rows, VIOLATION_SCHEMA)
            violations = ddf if violations is None else violations.unionByName(ddf)
        if violations is None:
            violations = local_frame(spark, [], VIOLATION_SCHEMA)

        violations = violations.persist()
        pre_counts = {
            (r["partition_key"], r["check_id"]): r["n"]
            for r in violations.groupBy("partition_key", "check_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

        _mark("violations_eval")
        accepted_df = violations
        for acc in self.acceptances:
            accepted_df = acc.apply(accepted_df)
        if self.acceptances:
            accepted_df = accepted_df.persist()
        post_counts = (
            {
                (r["partition_key"], r["check_id"]): r["n"]
                for r in accepted_df.groupBy("partition_key", "check_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            if self.acceptances
            else dict(pre_counts)
        )

        _mark("acceptances")
        if violations_sink:
            out = os.path.join(violations_sink, "run_id={0}".format(run_id))
            if not skipped:
                # this invocation validated everything: full replace.
                # Unpartitioned parquet stays schema-bearing even with
                # zero rows, so a clean run's sink reads back as 0 rows
                # (a partitioned zero-row write would emit nothing and
                # the read would fail with UNABLE_TO_INFER_SCHEMA).
                accepted_df.write.mode("overwrite").parquet(out)
            elif all_partitions:
                # partial resume: APPEND rows that do NOT belong to
                # already-completed partitions — an overwrite would wipe
                # the violation evidence the original failed run
                # recorded (the exit code points auditors at this
                # path). The filter is by EXCLUSION of the skipped set,
                # not inclusion of all_partitions, because drift checks
                # key their rows by their own group_col ('lang=en'),
                # which is a different key space from the suite
                # partitions. Null-partition_key rows (schema
                # conformance, require_all) are frame-independent
                # re-derivations already recorded by the original run
                # (the manifest is only written after the sink), so
                # they are dropped rather than duplicated per retry.
                # At-least-once remains for a crash between this append
                # and the manifest write; dedupe on (partition_key,
                # check_id, doc_id) if exactness matters.
                accepted_df.filter(
                    F.col("partition_key").isNotNull()
                    & ~F.col("partition_key").isin(list(skipped))
                ).write.mode("append").parquet(out)
            # full-skip retry (skipped everything, validated nothing):
            # no write at all — the original run's evidence stands

        _mark("sink_write")
        # per-partition verdicts (C4)
        wall_ms = int((time.time() - t0) * 1000)
        n_rows_by_pk = {r["partition_key"]: r["n_rows"] for r in stats_rows}
        verdict_rows = []
        # None partition_key = table-global violations (schema check,
        # require_all missing rows): they must appear in the verdict
        # domain or the suite reports a silent false pass.
        pk_domain = set(all_partitions) | {
            pk if pk is not None else "__global__" for (pk, _c) in list(pre_counts)
        }
        for pk in sorted(pk_domain):
            lookup_pk = None if pk == "__global__" else pk
            for check in self.checks:
                pre = pre_counts.get((lookup_pk, check.check_id), 0)
                post = post_counts.get((lookup_pk, check.check_id), 0)
                status = "pass" if pre == 0 else ("accepted" if post == 0 else "fail")
                verdict_rows.append(
                    (
                        run_id, pk, check.check_id, status, post,
                        n_rows_by_pk.get(pk), wall_ms,
                    )
                )
        # resumed partitions re-emit their RECORDED verdicts from the
        # manifest metrics — without this, re-running a failed run_id
        # with resume on would skip the failed partition and report a
        # clean pass (false-pass on CI retries). Per-check post/pre
        # counts come from the n_violations__/n_violations_pre__ keys
        # (written below), reproducing the original pass/accepted/fail
        # status and the original wall_ms; older manifests without them
        # fall back to one aggregate '__resumed__' row (and pre-count-
        # less manifests read a fully-accepted check as 'pass').
        for pk in sorted(skipped):
            m = skipped_metrics.get(pk) or {}
            nrows = int(m.get("n_rows") or 0)
            rec_wall = int(m.get("wall_ms") or wall_ms)
            per_check = [
                (c.check_id, m.get("n_violations__" + c.check_id))
                for c in self.checks
            ]
            if all(v is not None for _c, v in per_check):
                for cid, v in per_check:
                    nv = int(v)
                    pre = m.get("n_violations_pre__" + cid)
                    pre = nv if pre is None else int(pre)
                    status = (
                        "fail" if nv
                        else ("accepted" if pre else "pass")
                    )
                    verdict_rows.append(
                        (run_id, pk, cid, status, nv, nrows, rec_wall)
                    )
            else:
                nv = int(m.get("n_violations") or 0)
                verdict_rows.append(
                    (run_id, pk, "__resumed__", "fail" if nv else "pass",
                     nv, nrows, rec_wall)
                )
        verdicts = local_frame(spark, verdict_rows, VERDICT_SCHEMA)

        if manifest_dir:
            partition_rows = [
                (
                    pk,
                    dict(
                        {
                            "n_rows": float(n_rows_by_pk.get(pk) or 0),
                            "n_violations": float(
                                sum(
                                    v
                                    for (p, _c), v in post_counts.items()
                                    if p == pk
                                )
                            ),
                            "wall_ms": float(wall_ms),
                        },
                        **{
                            k: v
                            for c in self.checks
                            for k, v in (
                                (
                                    "n_violations__" + c.check_id,
                                    float(
                                        post_counts.get(
                                            (pk, c.check_id), 0
                                        )
                                    ),
                                ),
                                # pre-acceptance count so a resumed
                                # fully-accepted check re-reads as
                                # 'accepted', not 'pass'
                                (
                                    "n_violations_pre__" + c.check_id,
                                    float(
                                        pre_counts.get(
                                            (pk, c.check_id), 0
                                        )
                                    ),
                                ),
                            )
                        }
                    ),
                )
                for pk in all_partitions
            ]
            self._write_manifest(
                spark, manifest_dir, run_id, partition_rows,
                input_files_hash, input_snapshot_id,
            )

        _mark("verdicts_manifest")
        phases = {
            name: t - prev for (_, prev), (name, t) in zip(marks, marks[1:])
        }
        persisted = [violations]
        if self.acceptances:
            persisted.append(accepted_df)
        return SuiteResult(
            run_id, accepted_df, verdicts, stats_rows, wall_ms, n_rows_total,
            persisted=persisted, phases=phases,
        )


def north_star_suite(
    allowed_sources,
    drift_baseline=None,
    reference_tokens=None,
    vocab_size=50257,
    max_null_rate=0.01,
    n_tok_bounds=(1.0, 4096.0),
    acceptances=None,
    extra_checks=None,
):
    """The full constraint suite of the north star (BASELINE.json:6):
    schema conformance, per-column stats thresholds, exact uniqueness,
    referential membership, n_tok consistency, token range, optional
    drift and token-equality-vs-reference.
    ``extra_checks`` appends caller-supplied check objects (e.g. a
    row-level ``LengthBoundCheck``) without changing the default
    verdict surface."""
    from ..operators.checks import (
        ConsistencyCheck,
        NullRateCheck,
        ReferentialCheck,
        SchemaConformanceCheck,
        StatIntervalCheck,
        TokenEqualityCheck,
        TokenRangeCheck,
        UniquenessCheck,
    )
    from ..schema import INPUT_SCHEMA

    checks = [
        SchemaConformanceCheck(INPUT_SCHEMA),
        NullRateCheck({c: max_null_rate for c in ("doc_id", "n_tok", "source")}),
        StatIntervalCheck({
            "n_tok__min": (n_tok_bounds[0], None),
            "n_tok__max": (None, n_tok_bounds[1]),
        }),
        UniquenessCheck("doc_id"),
        ReferentialCheck("source", allowed=allowed_sources),
        ConsistencyCheck(),
        TokenRangeCheck(vocab_size=vocab_size),
    ]
    if drift_baseline is not None:
        checks.append(DriftCheck(drift_baseline))
    if reference_tokens is not None:
        checks.append(TokenEqualityCheck(reference_tokens))
    if extra_checks:
        checks.extend(extra_checks)
    return ValidationSuite(
        checks,
        partition_cols=("source",),
        acceptances=acceptances,
    )
