"""Seeded benchmark inputs and their independent oracle answers.

Each (workload, seed, rows) gets one cache directory holding:

* ``table/``       the ``sources.synth.tokenized_sequences`` table (parquet);
* ``oracle.json``  DuckDB's answer for the north-star suite over that table:
                   ``n_rows``, the partitions, and the violation counts per
                   (partition_key, check_id) before and after the
                   acceptances ``tolerance(1) | count(1000)``;
* ``sample.json``  the first rows of the table in generation order
                   (doc_id, n_tok, source), the source of the API inputs;
* ``schema.json``  the table's Spark schema, so that reading it back needs
                   no schema-inference job.

The oracle never calls the engine: it re-derives every check from the
parquet with SQL, so a wrong engine answer cannot agree with it by
construction.
"""

from __future__ import annotations

import json
import os
import shutil
import time

CACHE_VERSION = 2
SAMPLE_ROWS = 4000

# the high-defect mix of suite_dirty: dup 2%, length mismatch 5%, bad
# source 2%, nulls 0.2%; suite_clean keeps the generator defaults
DIRTY = dict(dup_rate=0.02, len_mismatch_rate=0.05, bad_source_rate=0.02,
             null_rate=0.002)

# north_star_suite defaults mirrored by the oracle
MAX_NULL_RATE = 0.01
N_TOK_BOUNDS = (1.0, 4096.0)
VOCAB = 50257
# the acceptances of the accepting suite runs: tolerance(1) | count(1000)
TOLERANCE = 1.0
COUNT_BUDGET = 1000


def cache_dir(root, workload, seed, rows):
    return os.path.join(
        root, "cache", "{0}-seed{1}-rows{2}-v{3}".format(
            workload, seed, rows, CACHE_VERSION)
    )


def ensure(spark, root, workload, seed, rows, defects):
    """Generate the inputs and oracle answers unless cached. Returns
    (cache dir, seconds spent generating; 0.0 on a cache hit)."""
    out = cache_dir(root, workload, seed, rows)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out, 0.0
    from datatest_spark.sources.synth import tokenized_sequences

    t0 = time.perf_counter()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    nparts = spark.sparkContext.defaultParallelism
    tokenized_sequences(
        spark, rows, seed=seed, num_partitions=nparts, **defects
    ).write.parquet(os.path.join(tmp, "table"))
    with open(os.path.join(tmp, "schema.json"), "w") as fh:
        fh.write(spark.read.parquet(os.path.join(tmp, "table")).schema.json())
    answer, sample = oracle(os.path.join(tmp, "table"))
    with open(os.path.join(tmp, "oracle.json"), "w") as fh:
        json.dump(answer, fh)
    with open(os.path.join(tmp, "sample.json"), "w") as fh:
        json.dump(sample, fh)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, time.perf_counter() - t0


def load(cache):
    """(oracle answer, API sample rows, table schema as a dict)."""
    out = []
    for name in ("oracle.json", "sample.json", "schema.json"):
        with open(os.path.join(cache, name)) as fh:
            out.append(json.load(fh))
    return tuple(out)


# -- the DuckDB oracle ------------------------------------------------------

_EXPECTED_TYPES = {
    "doc_id": "VARCHAR", "tokens": "INTEGER[]", "n_tok": "INTEGER",
    "source": "VARCHAR",
}

_ROW_VIOLATIONS = """
CREATE TEMP TABLE v AS
SELECT pk, 'n_tok_consistency' AS check_id, 'deviation' AS kind,
       NULL::VARCHAR AS group_key, CAST(len(tokens) AS VARCHAR) AS value,
       CAST(n_tok AS VARCHAR) AS expected,
       CAST(len(tokens) - n_tok AS DOUBLE) AS deviation, doc_id
  FROM t WHERE n_tok IS NOT NULL AND tokens IS NOT NULL AND len(tokens) <> n_tok
UNION ALL
SELECT pk, 'n_tok_consistency', 'invalid', NULL, NULL, CAST(n_tok AS VARCHAR),
       NULL, doc_id
  FROM t WHERE n_tok IS NOT NULL AND tokens IS NULL
UNION ALL
SELECT pk, 'referential', 'extra', NULL, source, NULL, NULL, doc_id
  FROM t WHERE source IS NULL OR source NOT IN ({allowed})
UNION ALL
SELECT pk, 'token_range', 'invalid', NULL, CAST(bad[1] AS VARCHAR),
       '[0,{vocab})', NULL, doc_id
  FROM (SELECT pk, doc_id,
               list_filter(tokens, x -> x IS NULL OR x < 0 OR x >= {vocab}) AS bad
          FROM t WHERE tokens IS NOT NULL)
 WHERE len(bad) > 0
UNION ALL
SELECT pk, 'uniqueness', 'extra', NULL, doc_id, NULL, NULL, doc_id
  FROM (SELECT pk, doc_id, unnest(range(n - 1)) AS _k
          FROM (SELECT pk, doc_id, count(*) AS n FROM t
                 WHERE doc_id IS NOT NULL GROUP BY pk, doc_id HAVING n > 1))
"""

_PARTITION_STATS = """
SELECT pk, count(*) AS n,
       count(*) - count(doc_id) AS doc_id__nulls,
       count(*) - count(n_tok) AS n_tok__nulls,
       count(*) - count(source) AS source__nulls,
       min(n_tok) AS n_tok__min, max(n_tok) AS n_tok__max
  FROM t GROUP BY pk ORDER BY pk
"""


def _stats_rows(con):
    """Partition-level violations (null rate, n_tok bounds) as tuples in
    the violation-table column order."""
    rows = []
    for pk, n, dn, nn, sn, lo, hi in con.execute(_PARTITION_STATS).fetchall():
        for col, nulls in (("doc_id", dn), ("n_tok", nn), ("source", sn)):
            rate = nulls / n
            if rate > MAX_NULL_RATE:
                rows.append((pk, "null_rate", "deviation", col, str(rate),
                             str(MAX_NULL_RATE), rate - MAX_NULL_RATE, None))
        for stat, v, bound, bad in (
            ("n_tok__min", lo, N_TOK_BOUNDS[0], lo is not None and lo < N_TOK_BOUNDS[0]),
            ("n_tok__max", hi, N_TOK_BOUNDS[1], hi is not None and hi > N_TOK_BOUNDS[1]),
        ):
            if bad:
                rows.append((pk, "stat_interval", "deviation", stat,
                             str(float(v)), str(float(bound)),
                             float(v) - float(bound), None))
    return rows


def oracle(table_dir):
    """DuckDB's answer for ``north_star_suite(ALLOWED_SOURCES)`` over the
    parquet table, and the API sample rows."""
    import duckdb

    from datatest_spark.sources.synth import ALLOWED_SOURCES

    con = duckdb.connect()
    try:
        glob = os.path.join(table_dir, "*.parquet").replace("'", "''")
        con.execute(
            "CREATE TEMP VIEW raw AS SELECT * FROM read_parquet('{0}', "
            "filename=true, file_row_number=true)".format(glob)
        )
        con.execute(
            "CREATE TEMP VIEW t AS SELECT *, 'source=' || "
            "coalesce(source, '__null__') AS pk FROM raw"
        )
        allowed = ", ".join("'{0}'".format(s) for s in ALLOWED_SOURCES)
        con.execute(_ROW_VIOLATIONS.format(allowed=allowed, vocab=VOCAB))
        for row in _stats_rows(con):
            con.execute("INSERT INTO v VALUES (?, ?, ?, ?, ?, ?, ?, ?)", row)
        types = dict(
            (r[0], r[1]) for r in con.execute("DESCRIBE raw").fetchall()
            if r[0] not in ("filename", "file_row_number")
        )
        schema_rows = sum(
            1 for c, tname in _EXPECTED_TYPES.items() if types.get(c) != tname
        ) + sum(1 for c in types if c not in _EXPECTED_TYPES)
        pre = con.execute(
            "SELECT pk, check_id, count(*) FROM v GROUP BY ALL ORDER BY ALL"
        ).fetchall()
        # tolerance(1): absorb deviations within [-1, 1]; then count(1000):
        # absorb the first 1000 survivors in the stable order
        # (kind, group_key, value, expected, deviation, doc_id), nulls last
        post = con.execute(
            """
            SELECT pk, check_id, count(*) FROM (
              SELECT *, row_number() OVER (ORDER BY
                       kind ASC NULLS LAST, group_key ASC NULLS LAST,
                       value ASC NULLS LAST, expected ASC NULLS LAST,
                       deviation ASC NULLS LAST, doc_id ASC NULLS LAST) AS rn
                FROM v
               WHERE NOT (kind = 'deviation' AND deviation IS NOT NULL
                          AND NOT isnan(deviation)
                          AND deviation BETWEEN ? AND ?))
             WHERE rn > ? GROUP BY ALL ORDER BY ALL
            """,
            [-TOLERANCE, TOLERANCE, COUNT_BUDGET],
        ).fetchall()
        n_rows, = con.execute("SELECT count(*) FROM t").fetchone()
        partitions = [r[0] for r in con.execute(
            "SELECT DISTINCT pk FROM t ORDER BY pk").fetchall()]
        sample = [list(r) for r in con.execute(
            "SELECT doc_id, n_tok, source FROM raw "
            "ORDER BY filename, file_row_number LIMIT ?", [SAMPLE_ROWS]
        ).fetchall()]
    finally:
        con.close()
    answer = {
        "n_rows": n_rows,
        "partitions": partitions,
        "schema_violations": schema_rows,
        "pre": [[pk, c, n] for pk, c, n in pre],
        "post": [[pk, c, n] for pk, c, n in post],
    }
    return answer, sample


# -- comparing a suite result with the oracle -------------------------------

def expected_verdicts(answer, check_ids, accepting):
    """{(partition_key, check_id): (status, n_violations)} the suite must
    report: every partition x check, pass / accepted / fail by the pre- and
    post-acceptance counts (post == pre for a suite without acceptances)."""
    pre = dict(((pk, c), n) for pk, c, n in answer["pre"])
    post = dict(((pk, c), n) for pk, c, n in answer["post" if accepting else "pre"])
    domain = list(answer["partitions"])
    if answer["schema_violations"]:
        domain.append("__global__")
    out = {}
    for pk in domain:
        key_pk = None if pk == "__global__" else pk
        for c in check_ids:
            if pk == "__global__":
                n_pre = answer["schema_violations"] if c == "schema_conformance" else 0
                n_post = n_pre
            else:
                n_pre = pre.get((key_pk, c), 0)
                n_post = post.get((key_pk, c), 0)
            status = "pass" if n_pre == 0 else ("accepted" if n_post == 0 else "fail")
            out[(pk, c)] = (status, n_post)
    return out


def verdict_mismatches(verdict_rows, expected):
    """Human-readable differences between collected verdict rows and the
    oracle's verdicts; empty when they agree."""
    got = dict(
        ((r["partition_key"], r["check_id"]), (r["status"], r["n_violations"]))
        for r in verdict_rows
    )
    bad = []
    for key in sorted(set(got) | set(expected), key=str):
        if got.get(key) != expected.get(key):
            bad.append("{0}: engine {1} oracle {2}".format(
                key, got.get(key), expected.get(key)))
    if len(verdict_rows) != len(got):
        bad.append("duplicate verdict rows: {0} rows for {1} keys".format(
            len(verdict_rows), len(got)))
    return bad
