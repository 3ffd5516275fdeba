"""Checks the curate workload's outputs against the DuckDB oracle SQL.

The JVM writes each pass's query outputs as parquet under
`<out>/pass<i>/<query>/` and the oracle SQL of every query as
`<out>/oracle_sql.json` (from SparkEntry.oracleSqlFor). Each output is
compared with the oracle's rows as scripts/compare.py compares them:
columns by name, rows sorted, values equal.

The oracle's rows are kept in `cache_dir` under a hash of the SQL and
the input tables, because replaying the curation pipeline in DuckDB takes
longer than the runs it checks; a changed query or input misses the
cache and is replayed.
"""
import glob
import hashlib
import json
import os

import duckdb


def differs(exp, out_dir, corrupt=False):
    """None when the parquet rows under out_dir equal the oracle's rows.
    With corrupt, one row of the output is dropped first (or, for an empty
    output, one empty row added): a wrong answer the check must catch."""
    got = duckdb.connect().execute(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").fetchdf()
    if corrupt:
        got = got.iloc[1:] if len(got) else got.reindex([0])
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)}, want {list(exp.columns)}"
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    if len(exp) != len(got):
        return f"{len(got)} rows, want {len(exp)}"
    if not exp.equals(got):
        bad = ((exp != got) & ~(exp.isna() & got.isna())).any(axis=1)
        return f"values differ, first {got[bad].head(1).to_dict('records')}"
    return None


def expected(con, sql, inputs, cache_dir):
    h = hashlib.sha256(sql.encode())
    for path in inputs:
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    cached = os.path.join(cache_dir, h.hexdigest() + ".parquet")
    if not os.path.exists(cached):
        os.makedirs(cache_dir, exist_ok=True)
        con.execute(f"COPY ({sql}) TO '{cached}.tmp' (FORMAT PARQUET)")
        os.rename(cached + ".tmp", cached)
    return duckdb.connect().execute(f"SELECT * FROM read_parquet('{cached}')").fetchdf()


def check(sf_dir, out, cache_dir, corrupt=False):
    """Yields (check name, outputs checked, outputs wrong, detail)."""
    con = duckdb.connect()
    inputs = []
    for t in ("documents", "embeddings"):
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            inputs.append(path)
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    passes = sorted(glob.glob(os.path.join(out, "pass*")))
    for name, sql in sorted(oracle.items()):
        wrong, detail = 0, ""
        exp = expected(con, sql, inputs, cache_dir)
        for p in passes:
            try:
                bad = differs(exp, os.path.join(p, name), corrupt)
            except Exception as e:  # an unreadable output is a wrong answer
                bad = f"error {e}"
            if bad:
                wrong += 1
                detail = detail or f"{os.path.basename(p)}: {bad}"
        yield f"oracle_{name}", len(passes), wrong, detail
