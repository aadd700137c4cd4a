"""Local replica of the driver's correctness gate: run every queries()
entry of __spark_entry__.py and its oracle_sql() twin at sf0.01, compare
row count + column names + order-insensitive stringified values.

The oracles read one table, `documents` (the pages CTE derives from it);
the polygon rows generate their grids with range().

Usage: python tools/check_oracle.py [sf_dir] [names...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from mundipy_spark.session import get_spark  # noqa: E402

TABLES = ["documents"]


def canon(df) -> tuple[list[str], list[tuple]]:
    import pandas as pd

    cols = sorted(df.columns)
    pdf = df[cols].copy()
    for c in cols:
        pdf[c] = pdf[c].map(_cell)
    rows = sorted(map(tuple, pdf.itertuples(index=False, name=None)))
    return cols, rows


def _cell(v):
    import decimal

    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        # before the int branch: Python bool is an int subclass ('1'),
        # np.bool_ is not ('True') — same logical value must
        # canonicalize identically regardless of column dtype
        return str(bool(v))
    if isinstance(v, decimal.Decimal):
        return f"{v:.6f}"
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle_check", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name silently checking nothing would read as success
        print(f"FAIL  unknown query name(s): {sorted(unknown)}")
        spark.stop()
        return 1
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            # every registered query ships an oracle twin; a missing
            # one is a contract regression, not a weaker mode
            print(f"FAIL  {name}: no oracle_sql() entry")
            failures += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        scols, srows = canon(sdf)
        ocols, orows = canon(odf)
        ok = scols == ocols and srows == orows
        if ok:
            print(f"OK    {name}: {len(srows)} rows match [{time.time()-t0:.1f}s]")
        else:
            failures += 1
            print(f"FAIL  {name}: spark {len(srows)} rows {scols} vs oracle {len(orows)} rows {ocols}")
            sset = set(srows)
            oset = set(orows)
            for r in list(sset - oset)[:3]:
                print(f"      spark-only:  {r}")
            for r in list(oset - sset)[:3]:
                print(f"      oracle-only: {r}")
    spark.stop()
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
