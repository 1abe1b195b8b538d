#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query result
parquet written by graft.Verify, run the oracle SQL in DuckDB over the
same sf directory's tables and compare (columns sorted by name, rows
sorted by all columns, exact value equality).

Usage: oracle_check.py <sfDir> <verifyOutDir>
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # Normalize value representation so spark-parquet and duckdb frames
    # compare by VALUE: dates/timestamps → ISO strings, everything
    # non-float → object with NaN→None.
    for c in df.columns:
        s = df[c]
        if s.dtype.kind in "Mm" or (s.dtype == object and len(s) and
                                    s.dropna().map(
                                        lambda v: hasattr(v, "isoformat")).any()):
            # duckdb DATE surfaces as midnight datetime64; strip the
            # zero time part so it compares equal to spark's date32
            df[c] = s.map(
                lambda v: v.isoformat().replace("T00:00:00", ""),
                na_action="ignore")
        if df[c].dtype.kind not in "f":
            df[c] = df[c].astype(object).where(~df[c].isna(), None)
    def sort_repr(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return "\x00"
        return str(v)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True,
                            key=lambda s: s.map(sort_repr))
    return df.reset_index(drop=True)


def cmp_frames(name, spark_df, oracle_df):
    # The driver hashes value REPRS, so a float64 1234.0 on one side
    # never matches an int64 1234 on the other (the round-1 HUGEINT
    # lesson: duckdb sum(BIGINT) widens to int128 → pandas float64).
    # Check RAW dtypes before canon() (which objectifies int columns)
    # and surface a hard dtype FAIL instead of normalizing it away.
    for c in set(spark_df.columns) & set(oracle_df.columns):
        kinds = {spark_df[c].dtype.kind, oracle_df[c].dtype.kind}
        if "f" in kinds and kinds & set("iu"):
            return (f"DTYPE col={c} spark={spark_df[c].dtype} "
                    f"oracle={oracle_df[c].dtype} "
                    f"(int/float mismatch — CAST the oracle aggregate)")
    a, b = canon(spark_df), canon(oracle_df)
    if list(a.columns) != list(b.columns):
        return f"COLS spark={list(a.columns)} oracle={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS spark={len(a)} oracle={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                eq = ((av.isna() & bv.isna()) |
                      (av.astype(float) == bv.astype(float)))
            else:
                eq = pd.Series(
                    [x == y or (x is None and y is None)
                     for x, y in zip(av.tolist(), bv.tolist())])
            ok = eq.all()
        except Exception as e:
            return f"CMPERR col={c}: {e}"
        if not ok:
            mism = (~eq).to_numpy().nonzero()[0][:5]
            detail = "; ".join(
                f"row{int(i)}: spark={a[c].iloc[i]!r} oracle={b[c].iloc[i]!r}"
                for i in mism)
            return f"VAL col={c} ({detail})"
    return None


def _oracle_cache_key(sf_dir, sql):
    """Content key for a cached oracle result: the SQL text plus the
    size+mtime of every fixture table it can read — the same
    content-addressing discipline the engine's stores use. A fixture
    regeneration or an oracle edit both change the key; re-running the
    same oracle over the same read-only fixtures does not."""
    import hashlib
    h = hashlib.sha256(sql.encode("utf-8"))
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            st = os.stat(p)
            h.update(f"|{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:24]


def _run_oracle(con, sf_dir, name, sql, cache_dir):
    """Execute an oracle SQL, memoizing SLOW results to parquet keyed
    by content (r10 verdict item 7: the two BPE training-CTE oracles
    are ~5 min of a ~10 min full sweep — static CTE chains over
    read-only fixtures, recomputed every run). Fast oracles are not
    cached: the write costs more than the re-run, and the cache dir
    stays a handful of files. Disable with GRAFT_ORACLE_NO_CACHE=1."""
    import time
    if os.environ.get("GRAFT_ORACLE_NO_CACHE"):
        return con.execute(sql).df()
    key = _oracle_cache_key(sf_dir, sql)
    path = os.path.join(cache_dir, f"{name}_{key}.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    t0 = time.time()
    df = con.execute(sql).df()
    if time.time() - t0 > 20.0:
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        df.to_parquet(tmp)
        os.replace(tmp, path)
    return df


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    cache_dir = os.environ.get(
        "GRAFT_ORACLE_CACHE_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "..", ".oracle_cache"))
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    n_pass = n_fail = n_skip = 0
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            continue
        files = glob.glob(f"{qdir}/*.parquet")
        if not files:
            print(f"SKIP {name}: no result parquet")
            n_fail += 1
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)],
                             ignore_index=True)
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(spark_df)} rows "
                  f"({'ok' if len(spark_df) else 'EMPTY!'})")
            n_skip += 1
            continue
        try:
            oracle_df = _run_oracle(con, sf_dir, name, oracles[name],
                                    cache_dir)
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {str(e).splitlines()[0]}")
            n_fail += 1
            continue
        diff = cmp_frames(name, spark_df, oracle_df)
        if diff:
            print(f"FAIL {name}: {diff}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(spark_df)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
