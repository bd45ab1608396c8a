"""Local stand-in for the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row
count, column names, and an order-insensitive value hash.

Usage: python tools/compare_oracle.py [query_name ...]
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v) -> str:
    if v is None or v != v:
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(
        "|".join(norm_cell(r[c]) for c in cols)
        for _, r in pdf.iterrows()
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main(names: list[str] | None = None) -> int:
    import __spark_entry__ as entrymod
    from glean_cetaf_rdfs_spark.session import get_spark

    # cores, shuffle partitions and heap from the host (get_spark's defaults)
    spark = get_spark("compare")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    picked = names or list(qs)
    failures = 0
    for name in picked:
        try:
            got = qs[name](spark, SF_DIR).toPandas()
            sql = sqls.get(name)
            if sql is None:
                status = f"rows-only rows={len(got)}"
                ok = len(got) >= 0
            else:
                want = con.execute(sql).df()
                checks = {
                    "rows": len(got) == len(want),
                    "cols": sorted(got.columns) == sorted(want.columns),
                    "hash": value_hash(got) == value_hash(want),
                }
                ok = all(checks.values())
                status = " ".join(f"{k}={'OK' if v else 'FAIL'}" for k, v in checks.items())
                if not ok:
                    status += f" (spark {len(got)}x{sorted(got.columns)} vs duck {len(want)}x{sorted(want.columns)})"
                    if len(got) == len(want) and len(got) <= 10:
                        status += f"\n  spark: {got.to_dict('records')[:3]}\n  duck:  {want.to_dict('records')[:3]}"
            print(("PASS " if ok else "FAIL ") + name + "  " + status)
            failures += 0 if ok else 1
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {type(e).__name__}: {str(e)[:500]}")
            failures += 1
    return failures


if __name__ == "__main__":
    sys.exit(min(1, main(sys.argv[1:] or None)))
