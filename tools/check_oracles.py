"""Local mirror of the driver's DuckDB correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark AND the matching
``oracle_sql()`` on DuckDB (tables pre-registered as views), then
compares row count, column names, and order-insensitive values (columns
sorted by name, rows sorted, exact string/int equality, float equality
to 1e-9). An oracle column typed HUGEINT fails: pandas reads it as
float64, so its value hash can never match Spark's long (cast it to
BIGINT in the oracle). Usage:  python tools/check_oracles.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# override with CHECK_SF_DIR to spot-check parity at other scales
SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_connection():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            "CREATE VIEW {0} AS SELECT * FROM '{1}/{0}.parquet'".format(t, SF_DIR)
        )
    return con


def normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(round(v, 9))
            elif isinstance(v, (list, tuple)):
                vals.append(tuple(v))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr), [columns[i] for i in order]


def main(names=None):
    import __spark_entry__ as entry
    from datatest_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", master="local[8]",
                      shuffle_partitions=8)
    con = duck_connection()

    qs = entry.queries()
    oracles = entry.oracle_sql()
    selected = names or list(qs)
    failures = []
    for name in selected:
        fn = qs[name]
        try:
            sdf = fn(spark, SF_DIR)
            s_cols = list(sdf.columns)
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, "SPARK ERROR: {0}".format(e)))
            print("[FAIL-spark] {0}: {1}".format(name, str(e)[:300]))
            continue
        if name not in oracles:
            print("[rows-only] {0}: {1} rows".format(name, len(s_rows)))
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols = list(rel.columns)
            huge = [c for c, t in zip(d_cols, rel.types) if str(t) == "HUGEINT"]
            d_rows = [tuple(r) for r in rel.fetchall()]
        except Exception as e:
            failures.append((name, "DUCKDB ERROR: {0}".format(e)))
            print("[FAIL-duckdb] {0}: {1}".format(name, str(e)[:300]))
            continue
        if huge:
            failures.append((name, "HUGEINT columns {0}".format(huge)))
            print("[FAIL-hugeint] {0}: oracle columns {1} are HUGEINT; "
                  "cast them to BIGINT".format(name, huge))
            continue
        if sorted(s_cols) != sorted(d_cols):
            failures.append((name, "columns {0} vs {1}".format(s_cols, d_cols)))
            print("[FAIL-cols] {0}: spark={1} duckdb={2}".format(name, s_cols, d_cols))
            continue
        if len(s_rows) != len(d_rows):
            failures.append(
                (name, "rowcount {0} vs {1}".format(len(s_rows), len(d_rows)))
            )
            print(
                "[FAIL-count] {0}: spark={1} duckdb={2}".format(
                    name, len(s_rows), len(d_rows)
                )
            )
            continue
        sn, _ = normalize(s_rows, s_cols)
        dn, _ = normalize(d_rows, d_cols)
        if sn != dn:
            diff = [i for i, (a, b) in enumerate(zip(sn, dn)) if a != b][:3]
            msg = "; ".join(
                "row{0}: {1} vs {2}".format(i, sn[i], dn[i]) for i in diff
            )
            failures.append((name, "values differ: " + msg))
            print("[FAIL-values] {0}: {1}".format(name, msg[:400]))
            continue
        print("[OK] {0}: {1} rows".format(name, len(s_rows)))

    print()
    if failures:
        print("{0} FAILURES: {1}".format(len(failures), [f[0] for f in failures]))
        return 1
    print("all checked queries match")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
