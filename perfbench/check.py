"""Correctness checks run after the timed phases, outside every timing.

`oracles` compares each operation's Spark output with its DuckDB oracle
over the same data directory, the way `tools/crosscheck.py` does:
column-name-sorted, row-sorted, exact values, dtype kinds must agree.
`ingest` compares the final versioned table with a batch keep-latest
per token_id over the tick files the generator placed.
"""
import json
import os

import duckdb


def _compare(want, got):
    """None when equal, else a short description of the first difference."""
    want = want.reindex(sorted(want.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(want.columns) != list(got.columns):
        return f"cols want={list(want.columns)} got={list(got.columns)}"
    kinds = [(c, str(want[c].dtype), str(got[c].dtype)) for c in want.columns
             if want[c].dtype.kind != got[c].dtype.kind
             and not (want[c].dtype.kind in "iu" and got[c].dtype.kind in "iu")]
    if kinds:
        return "dtype " + "; ".join(f"{c}: want={a} got={b}" for c, a, b in kinds[:4])
    ws = want.sort_values(by=list(want.columns), ignore_index=True)
    gs = got.sort_values(by=list(got.columns), ignore_index=True)
    if len(ws) != len(gs):
        return f"rows want={len(ws)} got={len(gs)}"
    for c in ws.columns:
        a, b = ws[c], gs[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            neq = ~((a == b) | (a.isna() & b.isna()))
        else:
            neq = ~(a.astype(str) == b.astype(str))
        if neq.any():
            i = neq.idxmax()
            return f"{c}[{i}]: want={a[i]!r} got={b[i]!r} (n={int(neq.sum())})"
    return None


def _connect(work, threads):
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{work}/duckdb_tmp'")
    return con


def oracles(data_dir, out_dir, work, threads):
    """{name: None | difference} for every oracle the harness exported."""
    con = _connect(work, threads)
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')")
    result = {}
    for name, sql in sorted(json.load(open(f"{out_dir}/oracle_sql.json")).items()):
        try:
            want = con.sql(sql).df()
            got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
            result[name] = _compare(want, got)
        except Exception as e:  # a missing output or a failing oracle is a mismatch
            result[name] = f"EXC {str(e)[:200]}"
    con.close()
    return result


def ingest(ticks_dir, out_dir, work, threads):
    """{"ingest_final": None | difference}."""
    con = _connect(work, threads)
    files = [f"{ticks_dir}/{f}" for f in open(f"{out_dir}/ingest_files.txt").read().split()]
    cols = "event_id, ts, token_id, price, usd, created_ms"
    try:
        want = con.sql(f"""
            SELECT {cols} FROM (
              SELECT *, row_number() OVER (PARTITION BY token_id
                                           ORDER BY ts DESC, event_id DESC) AS rn
              FROM read_parquet({files!r})) WHERE rn = 1""").df()
        got = con.sql(f"SELECT {cols} FROM read_parquet('{out_dir}/ingest_final/*.parquet')").df()
        diff = _compare(want, got)
    except Exception as e:
        diff = f"EXC {str(e)[:200]}"
    con.close()
    return {"ingest_final": diff}
