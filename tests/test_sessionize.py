"""Sessionize at the 30-minute gap boundary: the batch query, its DuckDB
oracle and the stateful stream must agree on sub-second gaps."""

import duckdb
import pandas as pd

from privacy_crawler_parser_tokenizer_spark.queries import ORACLE_SQL, QUERIES
from privacy_crawler_parser_tokenizer_spark.streaming import jobs

T0 = pd.Timestamp("2026-01-01 10:00:00")
# user -> gap in seconds between its two events
GAPS = {1: 1800.0, 2: 1800.5, 3: 1801.0}
# a gap opens a new session only when strictly above 1800 s
WANT = {
    (100 * u + i, u, 1 + (i == 1 and gap > 1800))
    for u, gap in GAPS.items()
    for i in (0, 1)
}


def test_sessionize_subsecond_gaps(spark, tmp_path):
    rows = [
        (100 * u + i, u, (T0 + pd.Timedelta(seconds=i * gap)).to_pydatetime())
        for u, gap in GAPS.items()
        for i in (0, 1)
    ]
    events = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    ).coalesce(1).write.parquet(events)

    batch = {tuple(r) for r in QUERIES["sessionize"](spark, str(tmp_path)).select(
        "event_id", "user_id", "session_id").collect()}
    assert batch == WANT

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{events}/*.parquet'")
    oracle = set(con.execute(
        f"SELECT event_id, user_id, session_id FROM ({ORACLE_SQL['sessionize']})"
    ).fetchall())
    assert oracle == WANT

    stream = spark.readStream.schema("event_id long, user_id long, ts timestamp").parquet(events)
    jobs.run_to_memory(jobs.sessionize_stateful(stream), "sessions_subsecond")
    streamed = {
        (r.event_id, r.user_id, r.session_id)
        for r in spark.table("sessions_subsecond").collect()
    }
    assert streamed == WANT
