"""Correctness gates, each an independent DuckDB computation over the same
files the library read or wrote. They run outside the timed window; any
mismatch raises ``AssertionError`` and fails the run."""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from tests.oracle_utils import assert_frames_match

# the reference pipeline keeps only these event types
_VALID = "'sword_event', 'guild_event'"


def check_stream(spark, backlog: str, out_dir: str, landed_total: int) -> None:
    """Landed per-(event_type, direction) counts equal a DuckDB count of the
    valid payloads in the backlog; malformed and invalid ones are dropped."""
    con = duckdb.connect()
    expected = con.execute(
        "WITH r AS (SELECT value FROM read_json("
        f"'{backlog}/*.json', format = 'newline_delimited', "
        "columns = {value: 'VARCHAR', \"timestamp\": 'VARCHAR', \"offset\": 'BIGINT'})), "
        "p AS (SELECT CASE WHEN json_valid(value) "
        "THEN json_extract_string(value, '$.event_type') END AS event_type, "
        "CASE WHEN json_valid(value) "
        "THEN json_extract_string(value, '$.direction') END AS direction FROM r) "
        "SELECT event_type, direction, COUNT(*) AS n FROM p "
        f"WHERE event_type IN ({_VALID}) GROUP BY 1, 2"
    ).df()
    landed = (
        spark.read.parquet(out_dir).groupBy("event_type", "direction").count()
    ).toPandas().rename(columns={"count": "n"})
    assert_frames_match(landed, expected, "stream_ingest.landed_counts")
    if int(landed["n"].sum()) != landed_total:
        raise AssertionError(
            f"sink log lists {landed_total} rows, table reads {int(landed['n'].sum())}"
        )


LANDED_ORACLES = {
    "count_events": "SELECT COUNT(*) AS num_entries FROM landed",
    "events_by": "SELECT direction, COUNT(*) AS num_events FROM landed GROUP BY 1",
    "events_by_host_and_type": (
        "SELECT Host AS host, event_type, COUNT(*) AS num_events "
        "FROM landed GROUP BY 1, 2"
    ),
    "distinct_host_type_detail": (
        "SELECT DISTINCT Host AS host, event_type, event_detail FROM landed"
    ),
    "first_events": 'SELECT * FROM landed ORDER BY "timestamp" LIMIT 10',
}


def check_landed(out_dir: str, results: dict[str, pd.DataFrame]) -> None:
    """Each analytics result equals DuckDB over the landed parquet."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW landed AS SELECT * FROM read_parquet("
        f"'{out_dir}/*/*.parquet', hive_partitioning = true)"
    )
    for name, sql in LANDED_ORACLES.items():
        assert_frames_match(results[name], con.execute(sql).df(), f"query_landed.{name}")


def check_catalog(data_dir: str, results: dict[str, pd.DataFrame]) -> None:
    """Each mix query equals its registry oracle SQL run by DuckDB."""
    from user_behavior_spark_pipeline_spark.registry import ORACLES

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        table = f.removesuffix(".parquet")
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{data_dir}/{f}')"
        )
    for name, got in results.items():
        assert_frames_match(got, con.execute(ORACLES[name]).df(), f"catalog_joins.{name}")
