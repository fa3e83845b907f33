"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 and compares it
against the DuckDB ``oracle_sql()`` twin: row count, column-name set,
and exact cell values after sorting columns by name and rows by value.
Exit code 1 on any mismatch. Usage: python scripts/check_correctness.py
[query ...]
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb
import pandas as pd

import __spark_entry__ as entry_mod
from kg_microbe_merge_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _render(v) -> str | None:
    """Dtype-faithful canonical rendering: int stays int, float stays
    float (78 vs 78.0 MUST differ, exactly like the driver's value
    hash — a DuckDB HUGEINT→float64 coercion is a real oracle bug the
    round-2 local gate masked by coercing everything to float64)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if pd.api.types.is_scalar(v) and pd.isna(v):  # pandas NaT / pd.NA
        return None
    if isinstance(v, (bool,)) or type(v).__name__ == "bool_":
        return str(bool(v))
    if isinstance(v, float) or type(v).__name__ in ("float32", "float64"):
        return repr(float(v))
    if isinstance(v, int) or pd.api.types.is_integer(v):
        return str(int(v))
    return str(v)


def _driver_hash_risk(df: pd.DataFrame) -> str | None:
    """Detect cells a row-serialization hash can canonicalize
    differently across engines: embedded newlines / tabs / carriage
    returns inside string cells (the exact r3 ``line_dedup`` failure
    mode)."""
    for c in df.columns:
        col = df[c]
        if col.dtype != object:
            continue
        mask = col.map(
            lambda v: isinstance(v, str)
            and ("\n" in v or "\t" in v or "\r" in v)
        )
        if mask.any():
            i = mask.idxmax()
            return f"col={c} row={i} has embedded control char: {col.iloc[i]!r}"
    return None


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(_render)
    df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    return df


def compare(name: str, spark_df, oracle_df) -> list[str]:
    errs = []
    s_cols, o_cols = sorted(spark_df.columns), sorted(oracle_df.columns)
    if s_cols != o_cols:
        return [f"schema mismatch: spark={s_cols} oracle={o_cols}"]
    if len(spark_df) != len(oracle_df):
        errs.append(f"rowcount mismatch: spark={len(spark_df)} oracle={len(oracle_df)}")
    s = normalize(spark_df)
    o = normalize(oracle_df)
    if len(s) == len(o):
        for c in s.columns:
            a, b = s[c], o[c]
            if a.dtype.kind == "f" and b.dtype.kind == "f":
                eq = ((a == b) | (a.isna() & b.isna())).all()
            else:
                eq = a.fillna("\0").astype(str).equals(b.fillna("\0").astype(str))
            if not eq:
                bad = (~((a.fillna("\0").astype(str)) == (b.fillna("\0").astype(str)))).idxmax()
                errs.append(
                    f"value mismatch col={c} first_row={bad} "
                    f"spark={s[c].iloc[bad]!r} oracle={o[c].iloc[bad]!r}"
                )
    return errs


def main() -> int:
    only = set(sys.argv[1:])
    spark = get_spark(app_name="correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    # gated registry + retired-from-gate extras: the local gate covers
    # BOTH so retired queries keep full oracle verification
    qs = {**entry_mod.queries(), **entry_mod.extra_queries()}
    oracles = {**entry_mod.oracle_sql(), **entry_mod.extra_oracle_sql()}
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        import time

        t0 = time.monotonic()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            failed.append(name)
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            print(f"ok*   {name}: rows={len(sdf)} ({dt:.1f}s) [rows-only, no oracle]")
            if len(sdf) == 0:
                print(f"      WARNING: {name} returned 0 rows")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error {type(e).__name__}: {e}")
            failed.append(name)
            continue
        risk = _driver_hash_risk(sdf)
        if risk:
            # r2 was burned by float64 coercion, r3 by embedded-newline
            # canonicalization: each time the local gate was green while
            # the driver hash was red. Any control character inside a
            # cell is a canonicalization hazard for a row-serialization
            # hash — treat it as a FAILURE so it never reaches the
            # driver.
            print(f"FAIL  {name}: driver-hash risk: {risk}")
            failed.append(name)
            continue
        errs = compare(name, sdf, odf)
        if errs:
            print(f"FAIL  {name}: rows={len(sdf)} ({dt:.1f}s)")
            for e in errs[:5]:
                print(f"      {e}")
            failed.append(name)
        else:
            print(f"ok    {name}: rows={len(sdf)} ({dt:.1f}s)")
    print()
    if failed:
        print(f"FAILED: {len(failed)}: {failed}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
