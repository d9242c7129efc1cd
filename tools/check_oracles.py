"""Local stand-in for the driver's correctness gate.

Runs every queries() entry at a given sf_dir on Spark and its oracle_sql()
twin in DuckDB (tables pre-registered as views), then compares row count,
column names, and an order-insensitive value multiset (values canonicalized
to strings; floats rejected by policy — every query outputs ints/strings/
bools only, except where noted).
"""

from __future__ import annotations

import os
import sys
from collections import Counter
from pathlib import Path

import duckdb

# check the checkout this script lives in, wherever it is run from
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from outcite_duplicate_detecting_spark.sources.tables import TABLES  # noqa: E402


def canon(v) -> str:
    import datetime
    import math

    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return str(v.normalize())
    except Exception:
        pass
    return str(v)


def multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(
        "|".join(canon(row[i]) for i in order) for row in rows
    )


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None) -> int:
    from outcite_duplicate_detecting_spark.session import get_spark

    spark = get_spark(cores=len(os.sched_getaffinity(0)))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR {type(e).__name__}: {e}"))
            print(f"[FAIL-spark] {name}: {e}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(srows)} rows, cols={scols}")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"ORACLE ERROR {type(e).__name__}: {e}"))
            print(f"[FAIL-oracle] {name}: {e}")
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema: spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rows: spark={len(srows)} oracle={len(orows)}")
        if not problems:
            ms, mo = multiset(srows, scols), multiset(orows, ocols)
            if ms != mo:
                diff_s = list((ms - mo).items())[:3]
                diff_o = list((mo - ms).items())[:3]
                problems.append(f"values: spark-only={diff_s} oracle-only={diff_o}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"[FAIL] {name}: {'; '.join(problems)}")
        else:
            print(f"[ok] {name}: {len(srows)} rows")
    print(f"\n{len(failures)} failures / {len(qs)} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    raise SystemExit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01", only))
