"""JDBC sink tests: W1 semantics with injected I/O and a real DB-API
destination (DuckDB — supports ON CONFLICT like the reference's Postgres)."""

from __future__ import annotations

import duckdb

from paas_auditor_spark.sinks import jdbc


def test_execute_partitionwise_on_conflict_duckdb(spark, tmp_path):
    db = str(tmp_path / "dest.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE events (guid BIGINT PRIMARY KEY, payload VARCHAR)"
    )
    con.close()

    rows = [(i, f"p{i}") for i in range(50)] + [(7, "dup"), (9, "dup")]
    df = spark.createDataFrame(rows, ["guid", "payload"]).coalesce(1)
    stmt = "INSERT INTO events VALUES (?, ?) ON CONFLICT DO NOTHING"
    factory = jdbc.dbapi_factory("duckdb", db)
    jdbc.execute_partitionwise(df, stmt, factory, batch_size=8, max_partitions=1)
    # replay the whole batch (task-retry / overlap re-read analog)
    jdbc.execute_partitionwise(df, stmt, factory, batch_size=8, max_partitions=1)

    con = duckdb.connect(db)
    n, = con.execute("SELECT count(*) FROM events").fetchone()
    first7, = con.execute("SELECT payload FROM events WHERE guid = 7").fetchone()
    con.close()
    assert n == 50  # ON CONFLICT swallowed in-batch dups and the full replay
    assert first7 == "p7"  # first insert wins, conflicting rows ignored

