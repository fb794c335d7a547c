"""DuckDB oracle for query_suite: the same order-insensitive comparison as
the repository's tools/check.py, over the generated input tables."""
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    try:
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    except (TypeError, ValueError):  # unorderable cells: keep row order
        pass
    return df.reset_index(drop=True)


def check(in_dir, out_dir, names, oracle_sql):
    """Compare each query's parquet output under out_dir with DuckDB
    running its oracle SQL over in_dir; a query without oracle SQL must
    return at least one row. Returns {name: failure message}."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{in_dir}/{t}.parquet')")
    failures = {}
    for name in names:
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
        except duckdb.Error as e:
            failures[name] = f"no output ({e})"
            continue
        sql = oracle_sql.get(name)
        if sql is None:
            if len(got) == 0:
                failures[name] = "empty output"
            continue
        try:
            exp = con.sql(sql).df()
        except duckdb.Error as e:
            failures[name] = f"oracle error ({e})"
            continue
        g, e = _canon(got), _canon(exp)
        if list(g.columns) != list(e.columns):
            failures[name] = f"columns {list(g.columns)} != {list(e.columns)}"
        elif len(g) != len(e):
            failures[name] = f"rows {len(g)} != {len(e)}"
        elif not g.equals(e):
            failures[name] = "value mismatch in " + ", ".join(
                c for c in g.columns if not g[c].equals(e[c]))
    con.close()
    return failures
