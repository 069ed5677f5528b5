"""spark-submit entrypoint for the north-star validation job.

The production deployment unit (north rule): run the full constraint
suite over an Iceberg/parquet table of pre-tokenized training sequences
on a multi-executor cluster, resumable via the checkpoint manifest —

    spark-submit --py-files dist/datatest_spark.zip \
        jobs/validate_tokens.py \
        --input s3://bucket/tokenized --allowed-sources web,wiki,books \
        --manifest-dir s3://bucket/manifests --run-id nightly-2026-08-17 \
        --violations-sink s3://bucket/violations

or locally: ``python -m datatest_spark --input /path/parquet ...``.

No ``master`` / resource conf is set here: spark-submit owns that, so
the same script runs at N and 4N executors unchanged (the scaling
criterion's two cluster sizes). Exit code 1 on any failed partition
verdict; a one-line JSON summary goes to stdout either way. A resumed
run validates only incomplete partitions but re-emits the RECORDED
verdicts for completed ones from the manifest, so retrying a failed
run-id still exits 1 (no false pass on CI retries).
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="datatest_spark",
        description="Distributed constraint-validation suite over a "
        "tokenized-sequence table (doc_id, tokens, n_tok, source).",
    )
    p.add_argument("--input", required=True,
                   help="parquet path or catalog table name")
    p.add_argument("--format", default="parquet",
                   choices=["parquet", "table"],
                   help="'table' reads --input via spark.table() "
                   "(Iceberg/catalog); 'parquet' via the path reader")
    p.add_argument("--allowed-sources", default=None,
                   help="comma-separated allowed source values, or "
                   "@/path/to/file with one value per line (required "
                   "unless --spec is given)")
    p.add_argument("--spec", default=None, metavar="SPEC.json",
                   help="build the suite from a declarative JSON spec "
                   "file (plans/spec.py) instead of the north-star "
                   "flags; mutually exclusive with --allowed-sources / "
                   "--vocab-size / --max-null-rate / --n-tok-min/max "
                   "(the spec defines all checks); --row-length-bounds "
                   "and --fd still append extra checks")
    p.add_argument("--run-id", default=None)
    p.add_argument("--manifest-dir", default=None,
                   help="checkpoint-manifest dir; with --run-id already "
                   "present there, completed partitions are skipped")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--violations-sink", default=None,
                   help="directory; violations land under run_id=<id>/")
    p.add_argument("--vocab-size", type=int, default=50257)
    p.add_argument("--max-null-rate", type=float, default=0.01)
    p.add_argument("--n-tok-min", type=float, default=1.0)
    p.add_argument("--n-tok-max", type=float, default=4096.0)
    p.add_argument("--fail-limit", type=int, default=20,
                   help="max failed (partition, check) verdict rows "
                   "sampled into the summary")
    p.add_argument("--row-length-bounds", default=None, metavar="MIN,MAX",
                   help="adds a row-level LengthBoundCheck on n_tok: "
                   "each sequence outside [MIN,MAX] is a Deviation "
                   "(use e.g. 1,4096; either side may be empty for "
                   "one-sided bounds: ',4096' or '1,')")
    p.add_argument("--fd", action="append", default=None,
                   metavar="DET:DEP[:RATE]",
                   help="adds a FunctionalDependencyCheck asserting "
                   "DET -> DEP within every partition (repeatable); "
                   "optional RATE in [0,1) tolerates that fraction of "
                   "violating rows per key (default 0 = strict)")
    return p


def _parse_fd(spec: str):
    parts = spec.split(":")
    if len(parts) not in (2, 3) or not parts[0].strip() or not parts[1].strip():
        raise ValueError(
            "--fd must be DET:DEP or DET:DEP:RATE, got %r" % (spec,)
        )
    rate = float(parts[2]) if len(parts) == 3 and parts[2].strip() else 0.0
    return parts[0].strip(), parts[1].strip(), rate


def _parse_length_bounds(spec: str):
    parts = spec.split(",")
    if len(parts) != 2 or not (parts[0].strip() or parts[1].strip()):
        raise ValueError(
            "--row-length-bounds must be MIN,MAX with at least one side, "
            "got %r" % (spec,)
        )
    lo = int(parts[0]) if parts[0].strip() else None
    hi = int(parts[1]) if parts[1].strip() else None
    return lo, hi


def _read_allowed(spec: str) -> list[str]:
    if spec.startswith("@"):
        with open(spec[1:]) as fh:
            return [ln.strip() for ln in fh if ln.strip()]
    return [s for s in (t.strip() for t in spec.split(",")) if s]


def main(argv=None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    allowed = None
    if args.spec and args.allowed_sources:
        parser.error("--spec and --allowed-sources are mutually exclusive "
                     "(the spec defines its own checks)")
    if not args.spec and not args.allowed_sources:
        parser.error("one of --allowed-sources or --spec is required")
    if args.allowed_sources:
        try:
            allowed = _read_allowed(args.allowed_sources)
        except OSError as e:
            # usage error, not a data-quality failure: argparse exits 2,
            # keeping exit 1 unambiguous for 'failed partition verdict'
            parser.error("cannot read --allowed-sources file: %s" % e)
        if not allowed:
            parser.error("--allowed-sources resolved to an empty list")
    extra_checks = []
    if args.row_length_bounds:
        from datatest_spark.operators.checks import LengthBoundCheck

        try:
            lo, hi = _parse_length_bounds(args.row_length_bounds)
            extra_checks.append(LengthBoundCheck(length_col="n_tok",
                                                 min_len=lo, max_len=hi))
        except ValueError as e:
            # usage error (exit 2) BEFORE any Spark session spins up:
            # exit 1 stays unambiguous for 'failed partition verdict'
            parser.error(str(e))
    if args.fd:
        from datatest_spark.operators.checks import (
            FunctionalDependencyCheck,
        )

        for spec in args.fd:
            try:
                det, dep, rate = _parse_fd(spec)
                extra_checks.append(
                    FunctionalDependencyCheck(det, dep,
                                              max_violation_rate=rate)
                )
            except ValueError as e:
                parser.error(str(e))
    extra_checks = extra_checks or None
    spec_suite = None
    if args.spec:
        # build BEFORE the Spark session spins up: a config typo must
        # exit 2 immediately, not after cluster resources are acquired
        from datatest_spark.plans.spec import SpecError, suite_from_spec_file

        try:
            spec_suite = suite_from_spec_file(args.spec)
        except (OSError, SpecError) as e:
            parser.error("cannot build suite from --spec: %s" % e)
        if extra_checks:
            spec_suite.checks.extend(extra_checks)
    from pyspark.sql import SparkSession

    from datatest_spark.plans.suite import north_star_suite

    spark = SparkSession.builder.appName("datatest_spark.validate").getOrCreate()
    input_snapshot_id = None
    if args.format == "table":
        df = spark.table(args.input)
        try:
            # Iceberg lineage: record the snapshot this run validates so
            # a resume against a different snapshot is refused. The
            # CURRENT snapshot comes from .history (latest
            # made_current_at) — .snapshots keeps rolled-back snapshots
            # whose committed_at can postdate the current one, and
            # recording those would validate A while stamping B. Absent
            # metadata tables (plain catalog/parquet) leave it None.
            # backtick-quote each identifier part so a table name that
            # needs quoting fails as "not Iceberg" only when it truly
            # isn't — unquoted interpolation made quoting errors
            # masquerade as missing metadata and silently disarmed the
            # cross-snapshot resume guard. An input that already
            # contains backticks is caller-quoted (e.g. cat.`my.table`,
            # where splitting on '.' would corrupt it) — pass verbatim.
            if "`" in args.input:
                quoted = args.input
            else:
                quoted = ".".join(
                    "`%s`" % part for part in args.input.split(".")
                )
            snap = spark.sql(
                "SELECT snapshot_id FROM {0}.history "
                "ORDER BY made_current_at DESC LIMIT 1".format(quoted)
            ).collect()
            if snap:
                input_snapshot_id = str(snap[0][0])
        except Exception as e:
            # a plain (non-Iceberg) catalog table has no .history
            # metadata table — that's the documented expected path and
            # stays silent; only UNEXPECTED failures (an Iceberg table
            # whose metadata query errored) warn, so the warning keeps
            # signal value
            from pyspark.errors import AnalysisException

            if not isinstance(e, AnalysisException):
                print("WARN: snapshot lineage unavailable for %s: %s"
                      % (args.input, e), file=sys.stderr)
    else:
        df = spark.read.parquet(args.input)

    suite = spec_suite if spec_suite is not None else north_star_suite(
        allowed,
        vocab_size=args.vocab_size,
        max_null_rate=args.max_null_rate,
        n_tok_bounds=(args.n_tok_min, args.n_tok_max),
        extra_checks=extra_checks,
    )
    res = suite.run(
        df,
        run_id=args.run_id,
        manifest_dir=args.manifest_dir,
        resume=not args.no_resume,
        violations_sink=args.violations_sink,
        input_snapshot_id=input_snapshot_id,
    )
    # verdict rows are per (partition, check); summarize per partition.
    # '__global__' is the pseudo-partition for table-global violations
    # (schema conformance, required-missing rows) — counted separately
    # so 'partitions' matches the table's real partition count.
    verdicts = [r.asDict() for r in res.verdicts.collect()]
    failed = [v for v in verdicts if v["status"] == "fail"]
    real = lambda vs: {v["partition_key"] for v in vs
                       if v["partition_key"] != "__global__"}
    summary = {
        "run_id": res.run_id,
        "n_rows": res.n_rows_total,
        "wall_ms": res.wall_ms,
        # wall seconds per suite phase, in run order
        "phases": {k: round(v, 3) for k, v in res.phases.items()},
        "partitions": len(real(verdicts)),
        "failed_partitions": len(real(failed)),
        "global_fail": any(
            v["partition_key"] == "__global__" for v in failed
        ),
        "failed_sample": [
            {k: v[k] for k in
             ("partition_key", "check_id", "n_violations") if k in v}
            for v in failed[: args.fail_limit]
        ],
        "status": "fail" if failed else "pass",
    }
    print(json.dumps(summary))
    res.unpersist()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
