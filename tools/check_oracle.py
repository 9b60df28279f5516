"""Self-check harness mimicking the driver's correctness gate:
runs each __spark_entry__ query AND its DuckDB oracle at a given sf,
compares row count + column set + order-insensitive values.

Usage: python tools/check_oracle.py [--json OUT.json] [sf_dir] [query ...]

``--json`` additionally writes a driver-artifact-shaped report (one row
per query: rows/schema/hash match + counts) covering EXACTLY
``queries()`` — the committed per-round proof that the full surface is
green even when the driver's own artifact truncates (VERDICT r4 #1:
CORRECTNESS_r04.json carried 50 rows for 52 queries).
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from timeseriesflattener_spark import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    """STRICT normalization (r7): floats compare by exact shortest
    round-trip repr — bit-identical or fail. The pre-r7 int-collapse
    (1.0 == 1) could only be LAXER than the driver's hash; with every
    query on the exact-partials contract the self-check must be at
    least as strict as any driver normalization."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def rows_to_multiset(rows, cols):
    cols_sorted = sorted(cols)
    return sorted(tuple(norm(r[c]) for c in cols_sorted) for r in rows)


def main():
    import json as jsonlib

    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            sys.exit("usage: check_oracle.py [--json OUT.json] [sf_dir] [query ...]")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    report = {}
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    from timeseriesflattener_spark.session import release_frames

    for name, fn in queries.items():
        if only and name not in only:
            continue
        release_frames()
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
            scols = sdf.columns
        except Exception as exc:  # a crashing query is a red row, not a crash
            failures.append(name)
            report[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": None, "oracle_rows": None, "err": repr(exc)[:500],
            }
            print(f"{name:28s} FAIL: query raised {exc!r}")
            continue
        if name not in oracles:
            # no oracle -> the row records ONLY "ran and returned N rows";
            # match fields are None, never true, so the committed proof
            # artifact cannot overstate a rows-only query as verified
            report[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": len(srows),
                "oracle_rows": None, "err": None, "rows_only": True,
            }
            print(f"{name:28s} rows-only: {len(srows)} rows, cols={scols}")
            continue
        orel = con.sql(oracles[name])
        ocols = orel.columns
        orows = [dict(zip(ocols, row)) for row in orel.fetchall()]
        status = []
        rows_match = len(srows) == len(orows)
        schema_match = sorted(scols) == sorted(ocols)
        hash_match = False
        if not rows_match:
            status.append(f"ROWCOUNT {len(srows)} vs {len(orows)}")
        if not schema_match:
            status.append(f"SCHEMA {sorted(scols)} vs {sorted(ocols)}")
        if not status:
            sm = rows_to_multiset(srows, scols)
            om = rows_to_multiset(orows, ocols)
            hash_match = sm == om
            if not hash_match:
                diffs = [(a, b) for a, b in zip(sm, om) if a != b][:3]
                status.append(f"VALUES ({sum(1 for a, b in zip(sm, om) if a != b)} rows differ) e.g. {diffs}")
        report[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": len(srows),
            "oracle_rows": len(orows), "err": None,
        }
        if status:
            failures.append(name)
            print(f"{name:28s} FAIL: {'; '.join(status)}")
        else:
            print(f"{name:28s} OK ({len(srows)} rows)")
    print()
    if json_out:
        with open(json_out, "w") as fh:
            jsonlib.dump(
                {"sf_dir": sf_dir, "n_queries": len(report), "results": report},
                fh,
                indent=1,
            )
        print(f"wrote {json_out} ({len(report)} rows)")
    if failures:
        print("FAILED:", failures)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
