"""DuckDB oracle compare for the registry workloads.

The canonical form is the one `tools/check_oracle.py` uses: columns
sorted by name, every cell rendered as a string (floats by repr, NULL
as "NULL"), rows sorted, then an exact compare.
"""
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "NULL"
    if not isinstance(v, (list, tuple)) and pd.isna(v):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        df[c] = df[c].map(_canon)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def check(sf_dir, check_dir, oracle_sql, frozen_rows):
    """Returns {query: error or ""} for every query in `oracle_sql`.

    `check_dir/<query>` holds the engine's result as parquet;
    `frozen_rows[query]` is the row count the benchmark config pins."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    errors = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            s = norm(pd.read_parquet(f"{check_dir}/{name}"))
            d = norm(con.execute(sql).fetchdf())
        except Exception as e:  # a missing output or an oracle error is a failed check
            errors[name] = f"{type(e).__name__}: {e}"
            continue
        if list(s.columns) != list(d.columns):
            errors[name] = f"columns engine={list(s.columns)} oracle={list(d.columns)}"
        elif len(s) != len(d):
            errors[name] = f"rows engine={len(s)} oracle={len(d)}"
        elif len(s) and not s.equals(d):
            errors[name] = f"{int((s != d).values.sum())} mismatched cells of {s.size}"
        elif frozen_rows.get(name) != len(s):
            errors[name] = f"rows {len(s)} != frozen {frozen_rows.get(name)}"
        else:
            errors[name] = ""
    con.close()
    return errors
