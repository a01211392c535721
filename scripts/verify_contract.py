"""Local emulation of the driver's correctness gate: run every
__spark_entry__.queries() entry against its oracle_sql() on DuckDB at
sf0.01 and compare row count, schema (column names), and order-insensitive
values. Usage: python scripts/verify_contract.py [names...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from documentconvert_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        s = f"{v:.9g}"
        # Dtype-sensitive: keep float-ness visible so an int-valued float
        # (e.g. DuckDB HUGEINT -> pandas float64 rendering 2006.0) does NOT
        # compare equal to an integer 2006.  The driver's hash compare is
        # dtype-sensitive in exactly this way; round 1's 7 hash-fails were
        # invisible locally because this collapsed "2006.0" to "2006".
        if "." not in s and "e" not in s and "inf" not in s:
            s += ".0"
        return s
    return str(v)


def table_sig(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = sorted(
        tuple(norm_cell(v) for v in row)
        for row in df_pandas[cols].itertuples(index=False, name=None)
    )
    return cols, rows


def main() -> int:
    only = set(sys.argv[1:])
    spark = build_session(app_name="verify-contract", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(sdf)} (rows-only, no oracle) [{time.monotonic()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: oracle error {type(e).__name__}: {str(e)[:200]}")
            continue
        scols, srows = table_sig(sdf)
        ocols, orows = table_sig(odf)
        if scols != ocols:
            failures.append(name)
            print(f"FAIL {name}: schema {scols} vs {ocols}")
            continue
        if len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(orows)}")
            continue
        if srows != orows:
            failures.append(name)
            diffs = [i for i, (a, b) in enumerate(zip(srows, orows)) if a != b]
            print(f"FAIL {name}: {len(diffs)} differing rows of {len(srows)}; first:")
            i = diffs[0]
            print(f"  spark : {srows[i]}")
            print(f"  oracle: {orows[i]}")
            continue
        print(f"PASS {name}: rows={len(srows)} [{time.monotonic()-t0:.1f}s]")
    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
