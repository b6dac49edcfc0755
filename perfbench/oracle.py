"""Output checks against the catalog's DuckDB oracles.

Results are compared by hash after the canonicalization of
``tools/parity.py`` (name-sorted columns, all-column row sort, string
cells) - the same rules as the repository's correctness gate, so a
benchmark mismatch is a parity failure, not a formatting difference.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd

from tools.parity import TABLES, canon


def result_hash(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: column names, row count and
    canonicalized cells."""
    c = canon(df)
    h = hashlib.sha256()
    h.update(repr((list(c.columns), len(c))).encode())
    h.update(c.to_csv(index=False).encode())
    return h.hexdigest()


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def expected_ticker_meta(events) -> str:
    """Oracle hash of the reactive derived table: the catalog's
    ``ticker_meta_build`` SQL over the de-duplicated union of every
    generated event (``events`` is one Arrow table of all files)."""
    from reactive_data_pipeline_spark.queries import QUERIES

    con = duckdb.connect()
    try:
        con.register("events_all", events)
        con.sql("CREATE VIEW events AS SELECT DISTINCT ON (event_id) * FROM events_all")
        return result_hash(con.sql(QUERIES["ticker_meta_build"].oracle).df())
    finally:
        con.close()
