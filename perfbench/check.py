"""Output checks, made apart from the program.

Batch workloads: each query's oracle SQL runs in DuckDB over the same
parquet inputs and is compared with the query's checked (warm-up) result by
the rule of `scripts/check_oracle.py`: rows in a canonical order, non-floats
exact, floats within 1e-9.

stream-replay: each user's events are re-folded with the F9 blend in
`(ts, itemId)` order and ranked by cosine against the item catalog; the
stream's last emitted vector, event count and served top-10 must match.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
TOL = 1e-9


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            if getattr(df[c].dt, "tz", None) is not None:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) or
                hasattr(v, "tolist") and not isinstance(v, str) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(got, want):
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            ok = np.isclose(g.astype(float), w.astype(float), rtol=TOL,
                            atol=TOL, equal_nan=True).all()
        else:
            ok = g.equals(w) or (g.astype(str) == w.astype(str)).all()
        if not ok:
            return f"value mismatch in {c}"
    return None


def oracle(data_dir, out_dir, names):
    """({query: error}, {queries whose result disagrees with the oracle}):
    the first also names queries that could not be checked (no oracle SQL,
    no result, an oracle that fails in DuckDB)."""
    sql = json.load(open(os.path.join(out_dir, "oracle.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')")
    bad, wrong = {}, set()
    for name in names:
        if not sql.get(name):
            bad[name] = "no oracle SQL"
            continue
        ref = os.path.join(out_dir, "ref", name)
        if not os.path.isdir(ref):
            bad[name] = "no checked result"
            continue
        try:
            want = _norm(con.sql(sql[name]).df())
        except Exception as e:  # a broken oracle is a failed check
            bad[name] = f"oracle SQL error: {e}"
            continue
        files = sorted(glob.glob(os.path.join(ref, "*.parquet")))
        got = pq.read_table(files).to_pandas() if files else want.iloc[0:0]
        err = _same(_norm(got), want)
        if err:
            bad[name] = err
            wrong.add(name)
    return bad, wrong


def expected_stream(data_dir, lam, horizon_ms, n=10):
    """Per-user (vector, event count, top-n [(item, score)]) recomputed from
    the log, and the bound on final state rows: users with an event within
    the idle horizon of the log's end."""
    log = pq.read_table(os.path.join(data_dir, "stream_events.parquet")).to_pandas()
    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet")).to_pandas()
    feats = {int(i): np.asarray(v, dtype=np.float64)
             for i, v in zip(emb["vec_id"], emb["embedding"])}
    ids = np.array(sorted(feats))
    mat = np.stack([feats[i] for i in ids])
    mat_n = np.linalg.norm(mat, axis=1)
    out = {}
    for uid, g in log.sort_values(["ts", "itemId"]).groupby("userId", sort=False):
        u = np.zeros(mat.shape[1])
        for item, r in zip(g["itemId"], g["rating"]):
            u = u * (1 - lam * r) + feats[int(item)] * (lam * r)
        score = mat @ u / (mat_n * np.linalg.norm(u))
        order = np.lexsort((ids, -score))[:n]
        out[int(uid)] = (u, len(g), [(int(ids[k]), float(score[k])) for k in order])
    end = log["ts"].max()
    recent = log[log["ts"] >= end - horizon_ms]["userId"].nunique()
    return out, recent


def stream_replay(got, expected, recent):
    """Error text for the replay's output, or None."""
    users = {u["userId"]: u for u in got["users"]}
    if set(users) != set(expected):
        return f"{len(users)} users emitted, {len(expected)} in the log"
    for uid, (vec, n, top) in expected.items():
        u = users[uid]
        if u["nEvents"] != n:
            return f"user {uid}: nEvents {u['nEvents']} != {n}"
        if not np.allclose(u["interest"], vec, rtol=TOL, atol=TOL):
            return f"user {uid}: interest vector differs from the re-fold"
        served = u["served"]
        if [int(i) for i, _ in served] != [i for i, _ in top] or not np.allclose(
                [s for _, s in served], [s for _, s in top], rtol=TOL, atol=TOL):
            return f"user {uid}: served top-{len(top)} differs"
    if got["state_removed"] <= 0:
        return "no retired user was evicted"
    if got["state_rows"] > recent:
        return (f"{got['state_rows']} state rows remain, but only {recent} users "
                "have an event within the idle horizon of the log's end")
    return None
