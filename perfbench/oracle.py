"""DuckDB oracle check of the batch workloads' results.

The expected result of a query is its `SparkEntry.oracleSql` text run by
DuckDB over the same generated tables. Both sides are normalized the way
`scripts/selfcheck.py` does (columns by name, every value rendered as a
string, rows sorted by all columns) and must be equal. Expected results
are cached per input directory and SQL text. DuckDB must honour
`AS MATERIALIZED` (the selfcheck canary), or the graph oracles re-derive
their chains per reference.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df[sorted(df.columns)].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def canary(con):
    q = ("WITH h AS MATERIALIZED (SELECT sum(x) AS s FROM range(100) t(x)) "
         "SELECT a.s + b.s FROM h a CROSS JOIN h b")
    plan = "\n".join(str(r) for r in con.execute("EXPLAIN " + q).fetchall())
    if "CTE_SCAN" not in plan:
        raise SystemExit(f"duckdb {duckdb.__version__} does not materialize "
                         "`AS MATERIALIZED` CTEs; the oracle needs duckdb 1.0.0")


def connect(data_dir, tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET threads=4")
    canary(con)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def expected(con, sql, cache_dir):
    """The normalized oracle result of `sql`, cached under `cache_dir`."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    exp = norm(con.execute(sql).df())
    os.makedirs(cache_dir, exist_ok=True)
    exp.to_pickle(path + ".part")
    os.replace(path + ".part", path)
    return exp


def check(con, results_dir, oracles, queries, cache_dir):
    """Map each query to None (matches) or a one-line reason it fails."""
    out = {}
    for q in queries:
        files = glob.glob(os.path.join(results_dir, q, "*.parquet"))
        if not files:
            out[q] = "no result written"
            continue
        got = con.execute(f"SELECT * FROM '{results_dir}/{q}/*.parquet'").df()
        if q not in oracles:
            out[q] = None if len(got) > 0 else "empty result (no oracle SQL)"
            continue
        try:
            exp = expected(con, oracles[q], cache_dir)
        except Exception as e:  # an oracle that cannot run fails the query
            out[q] = f"oracle SQL error: {str(e)[:200]}"
            continue
        g = norm(got)
        if list(g.columns) != list(exp.columns):
            out[q] = f"columns {list(g.columns)} vs {list(exp.columns)}"
        elif len(g) != len(exp):
            out[q] = f"rows {len(g)} vs {len(exp)}"
        elif not g.equals(exp):
            out[q] = f"{int((g != exp).any(axis=1).sum())}/{len(g)} rows differ"
        else:
            out[q] = None
    return out


def row_diff(con, got_glob, sql, cache_dir):
    """Rows of `got_glob`'s parquet files and of the oracle result of `sql`
    that have no equal row on the other side (multiset difference, both
    ways)."""
    exp = expected(con, sql, cache_dir)
    got = norm(con.execute(f"SELECT * FROM '{got_glob}'").df())
    if list(got.columns) != list(exp.columns):
        return len(got) + len(exp)
    key = list(exp.columns)
    g = got.groupby(key).size().rename("g")
    e = exp.groupby(key).size().rename("e")
    both = pd.concat([g, e], axis=1).fillna(0)
    return int((both["g"] - both["e"]).abs().sum())
