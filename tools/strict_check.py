#!/usr/bin/env python3
"""Strict local stand-in for the driver's DuckDB-oracle hash gate.

Usage: python3 tools/strict_check.py <verify_out_dir> <sf_dir> [query ...]

Beyond a value-level compare (Python `==`, which treats 1 == 1.0 ==
Decimal('1.00')), this gate requires, per query:
  1. identical sorted column names,
  2. identical DuckDB logical types per column once BOTH sides pass
     through DuckDB (Spark parquet read vs oracle SQL result),
  3. exact repr() equality per cell in row order,
  4. the driver-emulation check: Spark parquet via pandas/pyarrow vs
     oracle via duckdb `.df()` (which coerces DECIMAL -> float64),
     both stringified.  Round-2 postmortem: checks 1-3 passed while
     the driver hash failed 5 queries, because the driver's two read
     paths disagree on decimals — pyarrow keeps exact Decimal objects
     ("505.00") while duckdb's pandas path yields float64 ("505.0").
     Any decimal-typed OUTPUT column is therefore a latent hash fail;
     emit DOUBLE (or strings) at the output boundary instead.

Dev tooling only — the Scala engine has no Python dependency.
"""
import glob
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def sorted_cols(rel):
    cols = rel.columns
    types = [str(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            [types[i] for i in order],
            order)


def norm_str_frame(df):
    """Sort columns by name, render every cell as a string with one
    null sentinel (driver normalizes nulls: None/NaN/NaT all match)."""
    df = df[sorted(df.columns)]
    mask = df.isna()
    s = df.astype(str)
    return s.mask(mask, "<null>").values.tolist()


def driver_emulation_diff(con, out_dir, name, sql):
    """Replicate the driver's two read paths; return a problem string
    or None.  Spark side: pandas/pyarrow (decimals stay Decimal).
    Oracle side: duckdb .df() (decimals coerce to float64)."""
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    spark_df = pd.concat([pd.read_parquet(f) for f in files],
                         ignore_index=True)
    duck_df = con.sql(sql).df()
    g = norm_str_frame(spark_df)
    e = norm_str_frame(duck_df)
    if g == e:
        return None
    for i, (gr, er) in enumerate(zip(g, e)):
        if gr != er:
            return (f"driver-emulation diff at row {i}:\n"
                    f"    got {gr}\n    exp {er}")
    return f"driver-emulation diff: row count {len(g)} vs {len(e)}"


def main(out_dir, sf_dir, only):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if only:
        unknown = only - set(oracle)
        if unknown:
            print(f"ERROR: unknown query name(s): {sorted(unknown)}")
            return 2
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            got_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            g_cols, g_types, g_order = sorted_cols(got_rel)
            got = got_rel.fetchall()
            exp_rel = con.sql(sql)
            e_cols, e_types, e_order = sorted_cols(exp_rel)
            exp = exp_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: exception {e}")
            n_fail += 1
            continue
        problems = []
        if g_cols != e_cols:
            problems.append(f"columns {g_cols} != {e_cols}")
        else:
            for c, gt, et in zip(g_cols, g_types, e_types):
                if gt != et:
                    problems.append(f"type[{c}]: spark={gt} oracle={et}")
        if len(got) != len(exp):
            problems.append(f"rows {len(got)} vs {len(exp)}")
        if not problems:
            for i, (g, e) in enumerate(zip(got, exp)):
                gr = tuple(repr(g[j]) for j in g_order)
                er = tuple(repr(e[j]) for j in e_order)
                if gr != er:
                    problems.append(
                        f"repr diff at row {i}:\n    got {gr}\n    exp {er}")
                    break
        if not problems:
            try:
                d = driver_emulation_diff(con, out_dir, name, sql)
            except Exception as e:
                d = f"driver-emulation exception: {e}"
            if d:
                problems.append(d)
        if problems:
            n_fail += 1
            print(f"FAIL {name}:")
            for p in problems:
                print(f"  {p}")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(got)} rows)")
    print(f"== {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        print("Usage: python3 tools/strict_check.py <verify_out_dir> <sf_dir> [query ...]")
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3:])))
