"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the same scale factor, compare row counts + column names + sorted
stringified values.

Usage: python scripts/oracle_check.py [sf_dir] [query ...]

Env: the session's cores are ``get_spark``'s: ``SPARK_GRAFT_CPUS``, else
the cores this process may run on.  ORACLE_CHECK_SHUFFLE overrides the
shuffle-partition count (default 2x cores) and ORACLE_CHECK_NO_AQE=1
disables adaptive execution.  Runs at a perverse layout (odd core
count, non-power-of-2 shuffle) prove the contract's partition-count
invariance: different partitionings mean different float summation
orders and different shuffle layouts, so any pair that only matched
DuckDB by summation-order luck fails here.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from cerberus_spark.session import get_spark
from cerberus_spark.sources.tables import TABLES


def canon(val) -> str:
    if val is None:
        return "<null>"
    if isinstance(val, float):
        return f"{val:.6g}"
    return str(val)


def rows_canon(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in idx) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    shuffle = os.environ.get("ORACLE_CHECK_SHUFFLE")
    extra = (
        {"spark.sql.adaptive.enabled": "false"}
        if os.environ.get("ORACLE_CHECK_NO_AQE")
        else None
    )
    spark = get_spark(
        driver_memory="12g",
        shuffle_partitions=int(shuffle) if shuffle else None,
        extra_conf=extra,
    )
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"SKIP {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok = True
        msgs = []
        if sorted(scols) != sorted(ocols):
            ok = False
            msgs.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
        if len(srows) != len(orows):
            ok = False
            msgs.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if ok:
            sc = rows_canon(scols, srows)
            oc = rows_canon(ocols, orows)
            if sc != oc:
                ok = False
                diff = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
                msgs.append(f"values differ; first diffs {diff}")
        status = "OK  " if ok else "FAIL"
        print(f"{status} {name}: {len(srows)} rows, {time.time()-t0:.1f}s" + ("; " + "; ".join(msgs) if msgs else ""))
        if not ok:
            failures.append(name)
    spark.stop()
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
