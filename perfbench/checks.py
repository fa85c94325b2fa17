"""Output checks: order-insensitive fingerprints and the DuckDB oracle.

A fingerprint is ``(row count, XOR of a 64-bit hash of each normalized
row)``. Rows are normalized the way the repository's oracle harness
compares them: columns in name order, doubles to 6 decimals, arrays to
tuples. XOR, unlike a sum, cannot hide a duplicated row pair behind a
dropped one of equal hash, and the count catches the rest.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

TABLES = ("events", "documents", "embeddings")


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def fingerprint(columns: list[str], rows) -> tuple[int, int]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    n = 0
    for r in rows:
        key = repr(tuple(_norm(r[i]) for i in order)).encode()
        acc ^= int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")
        n += 1
    return n, acc


def duckdb_fingerprint(sql: str, sf_dir: str, threads: int) -> tuple[int, int]:
    """Fingerprint of an oracle SQL over the generated tables."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {int(threads)}")
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return fingerprint(cols, cur.fetchall())
    finally:
        con.close()


def spark_fingerprint(df) -> tuple[int, int]:
    """Fingerprint of a Spark DataFrame, comparable with the oracle's."""
    return fingerprint(df.columns, df.collect())


def spark_fold(df) -> tuple[int, int]:
    """bench.py's full-evaluation fold: row count and bit_xor(xxhash64) over
    all columns, computed inside Spark."""
    from pyspark.sql import functions as F

    row = df.select(F.xxhash64(*df.columns).alias("_h")).agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(_h)").alias("x")
    ).collect()[0]
    return int(row["n"]), int(row["x"] or 0)
