"""Output check for faces_core: each face's result against its DuckDB
oracle (`SparkEntry.oracleSql`), compared the way tools/check_oracle.py
compares them: columns sorted by name, rows sorted by every column,
values equal (nulls equal nulls)."""

import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def same_values(got, exp):
    """None when the two frames hold the same rows, else why not."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    bad = []
    for c in g.columns:
        a, b = g[c], e[c]
        try:
            same = (a.fillna("\0NULL") == b.fillna("\0NULL")).all() \
                if a.dtype == object else ((a == b) | (a.isna() & b.isna())).all()
        except Exception:
            same = list(a) == list(b)
        if not same:
            bad.append(c)
    return f"value mismatch in {bad}" if bad else None


def check_faces(data_dir, results_dir, oracle_sql, faces):
    """{face: None if its result matches its oracle, else the reason}."""
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for face in faces:
        sql = oracle_sql.get(face)
        if sql is None:
            out[face] = "no oracle query"
            continue
        try:
            got = pq.read_table(os.path.join(results_dir, face)).to_pandas()
        except Exception as e:  # the face failed before writing a result
            out[face] = f"no result ({str(e)[:200]})"
            continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            out[face] = f"oracle error: {str(e)[:200]}"
            continue
        out[face] = same_values(got, exp)
    con.close()
    return out
