"""JDBC source: the reference's Postgres table scans (S5/S6) as parallel,
pushdown-friendly Spark reads.

The reference reads ``cf_audit_events`` with explicit projections and
time/key predicates (store.go:125-145, :192-225).  Against a JDBC
destination those scans become:

- **Partitioned parallel read**: ``partitionColumn/lowerBound/upperBound/
  numPartitions`` splits the table into range-disjoint queries, one JDBC
  connection each — the only way a 100 TB-adjacent relational scan doesn't
  serialize through a single connection.  Stride boundaries are WHERE
  clauses on the remote side, so the database does the partition pruning.
- **Predicate/projection pushdown**: Spark's JDBC relation pushes filters
  and column pruning into the generated remote SQL; verified in tests via
  the plan's ``PushedFilters`` for parquet and documented here for JDBC
  (same Catalyst machinery).
- **dbtable subqueries** for anything the pushdown can't express.

No JDBC driver jar ships in this environment, so this module stays a thin,
documented composition of the built-in reader; the logic that matters
(cursor predicates, key anti-joins) lives in operators/ and is tested
against parquet-backed tables with identical semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from paas_auditor_spark.sinks.jdbc import JdbcTarget


def read_table_jdbc(
    spark: SparkSession,
    target: JdbcTarget,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int = 8,
    fetch_size: int = 10_000,
) -> DataFrame:
    """Scan a JDBC table, optionally as ``num_partitions`` parallel range
    queries on ``partition_column`` (must be numeric/date/timestamp).

    ``fetchsize`` keeps the per-connection row buffer bounded (Postgres
    drivers default to materializing the whole result set otherwise).
    """
    reader = (
        target.apply(spark.read.format("jdbc"))
        .option("dbtable", target.table)
        .option("fetchsize", str(fetch_size))
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partitioned JDBC read needs lower_bound and upper_bound"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


__all__ = ["read_table_jdbc"]
