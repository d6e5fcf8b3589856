"""Compare the analytics workload's query results with DuckDB running each
query's oracle SQL (`SparkEntry.oracleSql`) over the same seeded tables.

Results are canonicalised before comparison: columns sorted by name,
integers widened to int64, floats to float64, timestamps to ns, rows
sorted by every column. A match is exact.
"""
import json
import os

TABLES = ["lineitem", "orders", "events", "documents", "embeddings"]


def canon(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def mismatch(spark_df, duck_df):
    """None when the two results match exactly, else why they differ."""
    import pandas as pd
    if len(duck_df) == 0:
        return "oracle returned no rows, so the comparison proves nothing"
    s, d = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns differ: spark={list(s.columns)} duckdb={list(d.columns)}"
    if len(s) != len(d):
        return f"row count: spark={len(s)} duckdb={len(d)}"
    try:
        pd.testing.assert_frame_equal(s, d, check_exact=True)
    except AssertionError as e:
        return " | ".join(str(e).split("\n")[:4])
    return None


def check(check_dir):
    """{query: reason} for every query whose result differs from DuckDB."""
    import duckdb
    with open(os.path.join(check_dir, "tables")) as f:
        tables = f.read().strip()
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}.parquet/*.parquet')")
    bad = {}
    for q, sql in sorted(oracle.items()):
        try:
            spark_df = con.execute(
                f"SELECT * FROM read_parquet('{check_dir}/{q}/*.parquet')").df()
            why = mismatch(spark_df, con.execute(sql).df())
        except Exception as e:  # a result that cannot be read is wrong too
            why = f"error: {e}"
        if why:
            bad[q] = why
    return bad
