"""Correctness gate, run outside the timed region.

- Batch: each query's collected result against its DuckDB oracle on the
  same generated parquet files, compared the way ``tools/verify_local.py``
  does (sorted columns, normalized values, strict timestamp time zones).
  A query with no oracle gets a rows-only check.
- Stream: the sink's windows against an independent DuckDB
  Σ|new−old| per (domain, 5-minute window) over the generated
  human/main events, on every window the final watermark closed.
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

from inputs import REPO

sys.path.insert(0, str(REPO / "tools"))
try:
    from verify_local import normalize, tz_kind  # noqa: E402
finally:
    sys.path.remove(str(REPO / "tools"))

WINDOW_MS = 5 * 60 * 1000


def oracle_connection(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame | None) -> str | None:
    """None when the result matches, else a one-line reason. Without an
    oracle the result only has to be non-empty."""
    if oracle_df is None:
        return None if len(spark_df) else "rows-only check: no rows"
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns {sorted(spark_df.columns)} != {sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"rows {len(spark_df)} != {len(oracle_df)}"
    for c in spark_df.columns:
        if tz_kind(spark_df[c]) != tz_kind(oracle_df[c]):
            return f"timestamp time zone differs in {c}"
    a, b = normalize(spark_df), normalize(oracle_df)
    if not a.equals(b):
        return f"values differ in {[c for c in a.columns if not a[c].equals(b[c])]}"
    return None


def stream_reference(truth: str, watermark_ms: int) -> pd.DataFrame:
    """Σ|new−old| per (domain, window start) over the human/main events,
    for windows whose end the watermark has passed (append mode emits a
    window once end <= watermark)."""
    return duckdb.sql(
        f"""
        SELECT domain, start_ms, sum(abs(new_length - old_length)) AS edit_size
        FROM (
            SELECT domain, ts_ms - ts_ms % {WINDOW_MS} AS start_ms,
                   new_length, old_length
            FROM '{truth}'
            WHERE lower(user_type) = 'human'
              AND lower(namespace) = 'main namespace'
        )
        WHERE start_ms + {WINDOW_MS} <= {watermark_ms}
        GROUP BY domain, start_ms
        ORDER BY domain, start_ms
        """
    ).df()


def sink_windows(sink_dir: str) -> pd.DataFrame:
    """The sink's rows in the reference's shape (domain, start_ms,
    edit_size), sorted the same way."""
    return duckdb.sql(
        f"""
        SELECT domain, epoch_ms(window_start) AS start_ms, edit_size
        FROM read_parquet('{sink_dir}/*/*.parquet', hive_partitioning = false)
        ORDER BY domain, start_ms
        """
    ).df()


def compare_stream(sink: pd.DataFrame, ref: pd.DataFrame) -> str | None:
    if len(ref) == 0:
        return "reference has no closed windows"
    if len(sink) != len(ref):
        return f"windows {len(sink)} != reference {len(ref)}"
    a = sink.astype({"start_ms": "int64", "edit_size": "int64"}).reset_index(drop=True)
    b = ref.astype({"start_ms": "int64", "edit_size": "int64"}).reset_index(drop=True)
    if not a.equals(b):
        return "window sums differ from the reference"
    return None
