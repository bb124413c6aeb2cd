#!/usr/bin/env python3
"""Local dev mirror of the driver's t2 correctness gate.

Usage: python3 scripts/check.py [sfDir] [outDir]

Reads outDir/<name>/ (Spark parquet, written by graft.Verify) and
outDir/oracle_sql.json, runs each oracle SQL in DuckDB against views over
sfDir/*.parquet, and compares: columns sorted by name, rows sorted, values
exact (floats compared bit-exact after float64 cast).

STRICT_DTYPE=1 additionally fails any query whose per-column pandas dtype
differs between the Spark parquet and the DuckDB frame (the driver's hash
canonicalization is dtype-sensitive: 2006 vs 2006.0 hash-differ). This is
the round-8 regression gate for the r07 mass-fail — run it every round.

Strict mode ALSO compares np.signbit and the NaN pattern on every float
column: the driver's hash is byte-sensitive, so DuckDB emitting -0.0 where
Spark emits +0.0 (they compare == equal, which is why assert_frame_equal
alone certified q321 while the driver's hash failed it) must fail locally.
This is the round-9 gate for the q321 negative-zero class.
Not part of the shipped library - dev tooling only.
"""
import os
import glob
import json
import sys

import duckdb
import numpy as np
import pandas as pd

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # normalize timestamps/dates to ns for cross-engine comparison
    import datetime
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
        elif df[c].dtype == object:
            sample = df[c].dropna()
            if len(sample) and isinstance(sample.iloc[0], datetime.date):
                try:
                    df[c] = pd.to_datetime(df[c]).astype("datetime64[ns]")
                except (pd.errors.OutOfBoundsDatetime, OverflowError):
                    df[c] = df[c].astype(str)  # sentinel 9999-12-31 etc.
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def dtype_diffs(g: pd.DataFrame, w: pd.DataFrame) -> list:
    """(column, dtype of g, dtype of w) for every column whose dtypes differ."""
    return [(c, str(g[c].dtype), str(w[c].dtype))
            for c in g.columns if str(g[c].dtype) != str(w[c].dtype)]


def float_bit_diffs(g: pd.DataFrame, w: pd.DataFrame) -> list:
    """(column, "signbit" or "nan-pattern") for every float column whose
    sign bits or NaN positions differ. assert_frame_equal treats -0.0 == 0.0
    and NaN == NaN as equal; a byte-level result hash does not."""
    diffs = []
    for c in g.columns:
        if str(g[c].dtype).startswith("float") and \
                str(w[c].dtype).startswith("float"):
            gv = g[c].to_numpy(dtype="float64")
            wv = w[c].to_numpy(dtype="float64")
            if not np.array_equal(np.signbit(gv), np.signbit(wv)):
                diffs.append((c, "signbit"))
            if not np.array_equal(np.isnan(gv), np.isnan(wv)):
                diffs.append((c, "nan-pattern"))
    return diffs


def main() -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    with open(f"{OUT_DIR}/oracle_sql.json") as f:
        oracles = json.load(f)

    names = sorted(p.split("/")[-1] for p in glob.glob(f"{OUT_DIR}/*")
                   if not p.endswith(".json"))
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        files = glob.glob(f"{OUT_DIR}/{name}/*.parquet")
        if not files:
            print(f"FAIL  {name}: no spark output")
            n_fail += 1
            continue
        got = pd.concat([pd.read_parquet(p) for p in sorted(files)])
        if name not in oracles:
            status = "ok" if len(got) > 0 else "EMPTY"
            print(f"rows-only  {name}: {len(got)} rows {status}")
            n_rowsonly += 1
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        g, w = canon(got.copy()), canon(want.copy())
        if list(g.columns) != list(w.columns):
            print(f"FAIL  {name}: columns {list(g.columns)} vs {list(w.columns)}")
            n_fail += 1
            continue
        if len(g) != len(w):
            print(f"FAIL  {name}: rows {len(g)} vs {len(w)}")
            n_fail += 1
            continue
        dtype_diff = dtype_diffs(g, w)
        strict = os.environ.get("STRICT_DTYPE") == "1"
        bit_diff = float_bit_diffs(g, w) if strict else []
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                          check_exact=True)
            if (dtype_diff or bit_diff) and strict:
                print(f"FAIL  {name}: dtype mismatch {dtype_diff} "
                      f"float-bit mismatch {bit_diff}")
                n_fail += 1
            else:
                if dtype_diff:
                    print(f"      {name} dtype note: {dtype_diff}")
                print(f"PASS  {name} ({len(g)} rows)")
                n_pass += 1
        except AssertionError as e:
            print(f"FAIL  {name}: {str(e)[:500]}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
