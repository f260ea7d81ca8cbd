"""DuckDB oracle for the registry workload, with an on-disk answer cache.

Each registry query carries DuckDB SQL that must return the same rows as
the engine. The oracle runs that SQL over the generated tables outside the
timed phase and writes DuckDB's answer as a parquet file; the harness
digests that file with the same `RowHash.digest` it applies to the engine's
result, so there is one row encoding, not one per language. Answers are
cached under a key made of the data checksum and the SQL text's hash, so a
changed query or changed data never reuses a stale answer.
"""
import hashlib
import os

import duckdb


def parquet_files(data_dir):
    return sorted(n for n in os.listdir(data_dir) if n.endswith(".parquet"))


def data_checksum(data_dir):
    h = hashlib.sha256()
    for name in parquet_files(data_dir):
        h.update(name.encode())
        with open(os.path.join(data_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def connect():
    """A DuckDB connection that never downloads extensions and stays small."""
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET threads TO 2")
    return con


def answers(data_dir, sql_by_name, cache_dir):
    """{name: parquet file of DuckDB's answer}; computes missing ones."""
    os.makedirs(cache_dir, exist_ok=True)
    checksum = data_checksum(data_dir)
    out = {}
    con = None
    for name, sql in sorted(sql_by_name.items()):
        key = hashlib.sha256((checksum + "\n" + sql).encode()).hexdigest()[:32]
        path = os.path.join(cache_dir, f"{name}-{key}.parquet")
        out[name] = path
        if os.path.exists(path):
            continue
        if con is None:
            con = connect()
            for t in parquet_files(data_dir):
                view = t.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {view} AS SELECT * FROM "
                            f"'{os.path.join(data_dir, t)}'")
        tmp = path + ".tmp"
        con.execute(f"COPY ({sql.strip().rstrip(';')}) TO '{tmp}' (FORMAT parquet)")
        os.replace(tmp, path)
    return out
