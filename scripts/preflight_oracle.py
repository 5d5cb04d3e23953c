"""Driver-style CORRECTNESS pre-flight: every registry key vs its
DuckDB oracle at sf0.01 with the driver's own comparison (sort columns
by name, big-endian-hex floats, sorted rows, md5) — the bit-level
check that catches -0.0 / tie-break / rounding drift `isclose` misses.

Prints one line per key (OK / FAIL) and a summary line.

Usage: python scripts/preflight_oracle.py [--sf /root/testdata/sf0.01]
           [--cores 32] [--keys k1 k2 ...]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].map(
                lambda v: float(v).hex() if pd.notna(v) else "nan"
            )
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype(str)
    return (
        df.astype(str)
        .sort_values(list(df.columns), ignore_index=True)
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--keys", nargs="*", default=None)
    args = ap.parse_args()

    import __spark_entry__ as entry
    from hocr_de_noising_spark.queries.util import TABLES
    from hocr_de_noising_spark.session import get_spark

    spark = get_spark("preflight", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    qs, oracles = entry.queries(), entry.oracle_sql()
    keys = args.keys or list(qs)
    ok = fail = 0
    for name in keys:
        try:
            sdf = qs[name](spark, args.sf).toPandas()
            ddf = con.execute(oracles[name]).df()
            a, b = norm(sdf), norm(ddf)
            ha = hashlib.md5(a.to_csv(index=False).encode()).hexdigest()
            hb = hashlib.md5(b.to_csv(index=False).encode()).hexdigest()
            if len(sdf) == len(ddf) and list(a.columns) == list(b.columns) and ha == hb:
                print(f"OK        {name} rows={len(sdf)}", flush=True)
                ok += 1
            else:
                print(
                    f"FAIL      {name} rows={len(sdf)}/{len(ddf)} "
                    f"cols={list(a.columns)}/{list(b.columns)} hash={ha==hb}",
                    flush=True,
                )
                fail += 1
        except Exception as e:  # noqa: BLE001 — report and continue
            print(f"FAIL      {name} exception: {e!r:.300}", flush=True)
            fail += 1
    print(f"SUMMARY ok={ok} fail={fail} total={len(keys)}")
    spark.stop()
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
