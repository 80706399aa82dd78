#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (dev tool only; the
library itself is pure Scala/Spark). Usage:

    python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet produced by graft.Verify, runs
the matching oracle SQL from oracle_sql.json in DuckDB over the raw
tables in <sfDir>, sorts columns by name and rows by all columns, and
diffs values.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# Spark has no 128-bit integer: a HUGEINT column in the oracle output
# hashes differently driver-side even when values are equal. SURVEY §6
# requires integer sums be CAST back to BIGINT in the oracle SQL.
BANNED_DUCK_TYPES = {"HUGEINT", "UHUGEINT"}


def dtype_family(dt) -> str:
    s = str(dt)
    if s.startswith("datetime"):
        return "datetime"
    if s in ("bool", "boolean"):
        return "bool"
    if s.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    if s.startswith(("float", "Float")):
        return "float"
    return "object"


def dtype_mismatches(got: pd.DataFrame, want: pd.DataFrame):
    """Columns whose canonical dtype family differs. A float-vs-int pair
    is excused only when the float side carries NaNs (pandas widens
    nullable ints to float on read — not a real type difference)."""
    bad = []
    for c in got.columns:
        fg, fw = dtype_family(got[c].dtype), dtype_family(want[c].dtype)
        if fg == fw:
            continue
        if {fg, fw} == {"int", "float"}:
            floaty = got[c] if fg == "float" else want[c]
            if floaty.isna().any():
                continue
        bad.append(f"{c}: spark={got[c].dtype} oracle={want[c].dtype}")
    return bad


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def read_output(d: str) -> pd.DataFrame:
    """One graft.Verify output directory as a normalized frame (empty
    when it holds no parquet file)."""
    files = glob.glob(os.path.join(d, "*.parquet"))
    return norm(pd.concat([pd.read_parquet(f) for f in files])) if files \
        else pd.DataFrame()


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    failures = 0
    # an oracle entry whose output dir is missing means the Spark side
    # CRASHED during Verify — flag loudly instead of silently skipping
    present = {n for n in os.listdir(out_dir)
               if os.path.isdir(os.path.join(out_dir, n))}
    for name in sorted(set(oracle) - present):
        print(f"[oracle] {name}: MISSING OUTPUT (query failed in Verify)")
        failures += 1
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        got = read_output(d)
        if name not in oracle:
            print(f"[rows-only] {name}: {len(got)} rows "
                  f"{'OK' if len(got) > 0 else 'EMPTY!'}")
            if len(got) == 0:
                failures += 1
            continue
        # one oracle query that errors (e.g. DuckDB out of memory) is one
        # failure, not the end of the run: every later query still gets
        # checked
        try:
            duck_types = con.execute(
                f"DESCRIBE {oracle[name]}").fetchdf()
            want = norm(con.execute(oracle[name]).fetchdf())
        except duckdb.Error as e:
            msg = (str(e).splitlines() or [type(e).__name__])[0]
            print(f"[oracle] {name}: ORACLE ERROR {msg}")
            failures += 1
            continue
        banned = [f"{r['column_name']}:{r['column_type']}"
                  for _, r in duck_types.iterrows()
                  if str(r["column_type"]).upper() in BANNED_DUCK_TYPES]
        status = "OK"
        if banned:
            status = (f"ORACLE TYPE {banned} — Spark has no 128-bit int; "
                      "CAST the sum to BIGINT in the oracle SQL")
        elif list(got.columns) != list(want.columns):
            status = f"COLS MISMATCH got={list(got.columns)} want={list(want.columns)}"
        elif len(got) != len(want):
            status = f"ROWS MISMATCH got={len(got)} want={len(want)}"
        elif dtype_mismatches(got, want):
            status = f"DTYPE MISMATCH {dtype_mismatches(got, want)}"
        else:
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                              check_exact=False, rtol=0, atol=0)
            except AssertionError as e:
                status = "VALUES MISMATCH: " + str(e).split("\n")[0]
                # show first differing rows
                neq = (got != want) & ~(got.isna() & want.isna())
                bad = neq.any(axis=1)
                print(got[bad].head(3))
                print(want[bad].head(3))
        print(f"[oracle] {name}: {len(got)} rows {status}")
        if status != "OK":
            failures += 1
    return failures


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
