#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB-oracle compare (dev tool only;
the engine itself is pure Scala/Spark).

Usage: check_oracle.py <sfDir> <verifyOutDir>
       check_oracle.py --against <otherVerifyOutDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json, registers each fixture parquet as a
DuckDB view, runs every oracle query, and compares against the Spark
result parquet written by `graft.Verify` (columns sorted by name, rows
sorted by all columns, exact match for non-floats, tiny-epsilon for
floats).

With --against, compares two `graft.Verify` dumps (say, a parent
commit's and a change's) under the same normalization, exactly: each
query is reported identical or different, a differing float column with
its largest absolute difference, and oracle_sql.json as byte-identical
or not."""
import glob
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) or
                hasattr(v, "tolist") and not isinstance(v, str) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def read_dump(out_dir: str, name: str) -> pd.DataFrame:
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    return norm(pd.concat([pd.read_parquet(f) for f in files]))


def dump_names(out_dir: str) -> set:
    return {os.path.basename(os.path.dirname(f))
            for f in glob.glob(f"{out_dir}/*/*.parquet")}


def diff_dumps(base: pd.DataFrame, got: pd.DataFrame) -> list:
    """The ways `got` differs from `base`; empty when identical."""
    if list(got.columns) != list(base.columns):
        return [f"columns {list(got.columns)} != {list(base.columns)}"]
    if len(got) != len(base):
        return [f"rows {len(got)} != {len(base)}"]
    out = []
    for c in got.columns:
        g, b = got[c], base[c]
        if g.dtype != b.dtype:
            out.append(f"{c}: dtype {g.dtype} != {b.dtype}")
        elif pd.api.types.is_float_dtype(g):
            gv, bv = g.to_numpy(), b.to_numpy()
            if not np.array_equal(gv, bv, equal_nan=True):
                d = np.nanmax(np.abs(gv - bv))
                out.append(f"{c}: float, max |diff| {d:.3g}")
        elif not (g.equals(b) or (g.astype(str) == b.astype(str)).all()):
            out.append(f"{c}: values differ")
    return out


def against(base_dir: str, out_dir: str) -> None:
    same_sql = open(f"{base_dir}/oracle_sql.json", "rb").read() == \
        open(f"{out_dir}/oracle_sql.json", "rb").read()
    print(f"oracle_sql.json: {'byte-identical' if same_sql else 'DIFFERENT'}")
    base_names, names = dump_names(base_dir), dump_names(out_dir)
    n_same = n_diff = 0
    for name in sorted(base_names | names):
        if name not in names or name not in base_names:
            print(f"DIFF {name}: only in "
                  f"{base_dir if name in base_names else out_dir}")
            n_diff += 1
            continue
        diffs = diff_dumps(read_dump(base_dir, name), read_dump(out_dir, name))
        if diffs:
            print(f"DIFF {name}: {'; '.join(diffs)}")
            n_diff += 1
        else:
            print(f"SAME {name}")
            n_same += 1
    print(f"\n{n_same} identical, {n_diff} different")
    sys.exit(1 if n_diff or not same_sql else 0)


def main() -> None:
    if sys.argv[1] == "--against":
        against(sys.argv[2], sys.argv[3])
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            want = norm(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_bad += 1
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_bad += 1
            continue
        got = norm(pd.concat([pd.read_parquet(f) for f in files]))
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != "
                  f"{list(want.columns)}")
            n_bad += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_bad += 1
            continue
        bad_cols = []
        for c in got.columns:
            g, w = got[c], want[c]
            if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
                eq = np.isclose(g.astype(float), w.astype(float),
                                rtol=1e-9, atol=1e-9, equal_nan=True).all()
            else:
                eq = g.equals(w) or (g.astype(str) == w.astype(str)).all()
            if not eq:
                bad_cols.append(c)
        if bad_cols:
            print(f"FAIL {name}: value mismatch in {bad_cols}")
            for c in bad_cols[:2]:
                diff = got[c] != want[c]
                print(f"  {c}: got {got[c][diff].head(3).tolist()} want "
                      f"{want[c][diff].head(3).tolist()}")
            n_bad += 1
        else:
            print(f"OK   {name} ({len(got)} rows)")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} failed")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
