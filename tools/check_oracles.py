"""Mimic the driver's correctness gate: run each queries() entry on Spark
and its oracle_sql() on DuckDB at the same sf dir; compare row count,
column names, and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
       python tools/check_oracles.py --json OUT.json [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    # sort columns by name, then rows lexically; stringify floats w/ rounding
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, float):
            return f"{v:.6g}"
        return str(v)

    lines = sorted(",".join(cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results: dict[str, dict] = {}

    import __spark_entry__ as e
    from nutch_spark.session import get_spark

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            df = fn(spark, sf_dir)
            srows = df.collect()
            scols = df.columns
        except Exception as ex:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR {type(ex).__name__}: {ex}"))
            print(f"FAIL {name}: spark error {ex}")
            results[name] = {"status": "spark_error", "err": str(ex)[:500]}
            continue
        if sql is None:
            print(f"ok(rows-only) {name}: {len(srows)} rows")
            if len(srows) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            results[name] = {"status": "rows_only", "spark_rows": len(srows)}
            continue
        try:
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"FAIL {name}: duckdb error {ex}")
            results[name] = {"status": "duckdb_error", "err": str(ex)[:500]}
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        elif value_hash([tuple(r) for r in srows], scols) != value_hash(drows, dcols):
            problems.append("value-hash mismatch")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)}")
            results[name] = {"status": "mismatch", "err": "; ".join(problems),
                             "spark_rows": len(srows), "oracle_rows": len(drows)}
        else:
            print(f"ok {name}: {len(srows)} rows")
            results[name] = {"status": "pass", "spark_rows": len(srows),
                             "oracle_rows": len(drows)}

    print(f"\n{len(failures)} failures")
    for name, why in failures:
        print(f"  {name}: {why}")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(results, f, indent=1)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
