"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at the given sf dir, compare
row count + schema-sorted values. Usage:

    python scripts/check_oracle.py [sf_dir] [query ...] [--cores 2,4]

Each entry of ``--cores`` runs the whole set on a fresh ``local[n]``
session, because a query whose result depends on the thread count passes at
one level and fails at another. Values compare as an order-insensitive
value hash of the result does: floats rounded to 6 places, then every value
equal. Every failure at every level is printed; the exit status is 1 if any
comparison failed.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from geoglue_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
DIGITS = 6  # the places a value hash of the results rounds floats to


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(DIGITS)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    """None when equal: floats rounded to DIGITS places, then exact equality."""
    if len(a) != len(b):
        return f"row count {len(a)} != {len(b)}"
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} != {sorted(b.columns)}"
    a, b = normalize(a), normalize(b)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            bad = ~((a[c].isna() & b[c].isna()) | (a[c] == b[c]))
        else:
            bad = a[c].astype(str) != b[c].astype(str)
        if bad.any():
            i = bad.idxmax()
            return f"col {c} row {i}: spark={a[c][i]!r} duckdb={b[c][i]!r} ({int(bad.sum())} diffs)"
    return None


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*", help="query names (default: all)")
    ap.add_argument(
        "--cores", default="2,4",
        help="comma-separated local[n] levels, each run on a fresh session",
    )
    args = ap.parse_args(argv)
    args.cores = [int(c) for c in args.cores.split(",") if c.strip()]
    if not args.cores or min(args.cores) < 1:
        ap.error("--cores needs one or more positive integers")
    return args


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    sf_dir, only = args.sf_dir, set(args.queries)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name must NOT produce a silent "0 failures" success
        print(f"ERROR: unknown query name(s) {sorted(unknown)}")
        return 2
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle_df: dict[str, pd.DataFrame | Exception] = {}
    failures: list[str] = []
    for cores in args.cores:
        spark = get_spark(f"oracle-check-{cores}", cores=cores, shuffle_partitions=cores)
        print(f"== local[{cores}]")
        for name, fn in qs.items():
            if only and name not in only:
                continue
            tag = f"{name} @{cores}"
            t0 = time.time()
            try:
                sdf = fn(spark, sf_dir).toPandas()
            except Exception as e:
                failures.append(tag)
                print(f"FAIL  {tag}: spark error {type(e).__name__}: {e}")
                continue
            took = time.time() - t0
            if name not in oracles:
                print(f"ROWS  {tag}: {len(sdf)} rows ({took:.1f}s) [rows-only check]")
                if len(sdf) == 0 and name != "phash_dedup_pairs":
                    print(f"      WARNING: empty result")
                continue
            if name not in oracle_df:
                try:
                    oracle_df[name] = con.execute(oracles[name]).df()
                except Exception as e:
                    oracle_df[name] = e
            ddf = oracle_df[name]
            if isinstance(ddf, Exception):
                failures.append(tag)
                print(f"FAIL  {tag}: duckdb error {ddf}")
                continue
            err = compare(sdf, ddf)
            if err:
                failures.append(tag)
                print(f"FAIL  {tag}: {err} ({took:.1f}s)")
            else:
                print(f"OK    {tag}: {len(sdf)} rows match ({took:.1f}s)")
        spark.stop()
    print(f"\n{len(failures)} failures" + (f": {', '.join(failures)}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
