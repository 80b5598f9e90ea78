"""Output checks against DuckDB.

Each query's warm-up result must hash-match its oracle SQL run by DuckDB
over the same corpus, hashed the way tools/oracle_check.sh hashes: both
frames get their columns sorted by name, their rows sorted by every
column, and are compared by the md5 of their CSV text. The pipeline's
output must hash-match a DuckDB formulation of TOP_ITEMS over the
generated inputs.
"""
import hashlib
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

TOP_ITEMS_SQL = """
WITH dd AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY detection_oid
                                 ORDER BY timestamp_detected, video_camera_oid) AS rn
    FROM read_parquet('{a}/*.parquet')) WHERE rn = 1),
cnts AS (
  SELECT geographical_location_oid, item_name, count(*) AS cnt
  FROM dd GROUP BY 1, 2),
ranked AS (
  SELECT geographical_location_oid, item_name,
         row_number() OVER (PARTITION BY geographical_location_oid
                            ORDER BY cnt DESC, item_name NULLS FIRST) AS rnk
  FROM cnts)
SELECT coalesce(b.geographical_location, 'Unknown') AS geographical_location,
       CAST(rnk AS VARCHAR) AS item_rank, item_name
FROM ranked LEFT JOIN read_parquet('{b}/*.parquet') b USING (geographical_location_oid)
WHERE rnk <= {k}
"""


def _digest(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return list(df.columns), len(df), hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


def _same(con, result_dir, sql):
    got = con.execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").fetchdf()
    want = con.execute(sql).fetchdf()
    return _digest(got) == _digest(want)


def check_queries(warm_dir, corpus, oracle_sql, names):
    """Returns {name: None | failure text} for every name."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    out = {}
    for name in names:
        sql = oracle_sql.get(name)
        path = os.path.join(warm_dir, name)
        try:
            if sql is None:
                out[name] = "no oracle SQL"
            elif not os.path.isdir(path):
                out[name] = "no result written"
            else:
                out[name] = None if _same(con, path, sql) else "hash mismatch"
        except Exception as e:  # a failing check is a failed output
            out[name] = f"check error: {str(e)[:200]}"
    con.close()
    return out


def check_pipeline(result_dir, data_a, data_b, top_x=5):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        ok = _same(con, result_dir, TOP_ITEMS_SQL.format(a=data_a, b=data_b, k=top_x))
        return None if ok else "hash mismatch"
    except Exception as e:
        return f"check error: {str(e)[:200]}"
    finally:
        con.close()
