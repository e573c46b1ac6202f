"""JDBC sink family: the reference's Postgres write path at Spark scale.

Reference parity target (SURVEY.md §2.6): W1 idempotent batch insert —
row-by-row ``INSERT … ON CONFLICT DO NOTHING`` keyed on guid, one
transaction per fetched page (store.go:73-100, conflict clause :92).  The
W2 cursor upsert is one driver-side statement in
``stores.DbApiStore.upsert_cursor``.

Spark's built-in JDBC writer is append-only — ON CONFLICT is not
expressible through ``df.write.jdbc`` — so W1 runs as **per-partition
statement execution** (`execute_partitionwise`): each executor partition
opens one DB-API connection from an injectable factory, plays its rows
through ``executemany`` in bounded batches, and commits once per
partition — the Spark analog of the reference's transaction-per-page.
With an ON CONFLICT statement this is idempotent under retries of a
partition task, which is exactly Spark's task-retry contract.
``stores.DbApiStore`` writes the service path's events through it,
behind the same ``operators.ingest.ingest_delta`` anti-join as the
parquet store.

I/O is injectable throughout so the logic is testable without a live
Postgres; the statement path is exercised against DuckDB (DB-API
compatible, supports ON CONFLICT) in tests.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def dbapi_factory(module_name: str, *args, **kwargs) -> Callable[[], object]:
    """Picklable DB-API connection factory.

    Native ``connect`` callables (psycopg2, duckdb) often can't be pickled
    into executor tasks; this closure carries only the module *name* and
    plain args, and resolves the driver on the executor at call time.
    """

    def _connect() -> object:
        import importlib

        return importlib.import_module(module_name).connect(*args, **kwargs)

    return _connect


def execute_partitionwise(
    df: DataFrame,
    statement: str,
    conn_factory: Callable[[], object],
    columns: list[str] | None = None,
    batch_size: int = 500,
    max_partitions: int | None = None,
) -> None:
    """Run a DML statement for every row, partition-wise, through DB-API.

    One connection + one transaction per partition (the reference commits
    one transaction per page — store.go:73-100); rows flow through
    ``executemany`` in ``batch_size`` groups.  With an idempotent statement
    (ON CONFLICT …) a retried task replays harmlessly — matching Spark's
    at-least-once task execution to effectively-once rows, exactly the
    reference's T3 semantics.

    ``conn_factory`` must be picklable (top-level function / partial): it
    runs inside executor workers.
    """
    if columns is None:
        columns = df.columns
    if max_partitions is not None:
        df = df.coalesce(max_partitions)
    projected = df.select(*columns)

    def run(rows) -> None:
        conn = conn_factory()
        try:
            cur = conn.cursor()
            buf: list[tuple] = []
            for row in rows:
                buf.append(tuple(row))
                if len(buf) >= batch_size:
                    cur.executemany(statement, buf)
                    buf = []
            if buf:
                cur.executemany(statement, buf)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    projected.foreachPartition(run)


__all__ = [
    "dbapi_factory",
    "execute_partitionwise",
]
