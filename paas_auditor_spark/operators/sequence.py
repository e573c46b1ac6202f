"""Persisted ingest-sequence ordering key — the ``id SERIAL`` analog.

The reference's event table carries ``id SERIAL``: an insertion sequence
used purely as a sort key for ordered export
(create_cf_audit_events.sql:2 — "id is a sequence, not an identity";
store.go:142-143 sorts on it).  Spark has no dense global sequence —
``monotonically_increasing_id`` is neither dense nor stable across runs
and must never be persisted as a cursor — so the engine's analog is the
explicit tuple **(ingest_batch_id, created_at, guid)** (SURVEY.md §1.2):

- ``ingest_batch_id`` is stamped by the writer (the streaming epoch id /
  collector tick number) — monotone per ingest, cheap, and a natural
  partition-pruning key for "what did batch N write" forensics;
- within a batch, (created_at, guid) is the deterministic order the
  reference gets implicitly from its index scan.

``assign_ingest_sequence`` materializes the dense 1..N sequence over that
tuple WITHOUT a single-partition global window: per-batch row counts (a
tiny aggregate) are cumulated into offsets on the driver, broadcast back,
and each batch ranks internally with a batch-partitioned window.  Ranking
parallelizes across batches; no executor ever sees more than one batch's
rows in one window partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

INGEST_BATCH_COL = "ingest_batch_id"


def assign_ingest_sequence(
    df: DataFrame,
    batch_col: str = INGEST_BATCH_COL,
    ts_col: str = "created_at",
    id_col: str = "guid",
    seq_col: str = "ingest_seq",
) -> DataFrame:
    """Dense 1..N sequence over (batch, event-time, key) — distributed.

    Scale shape: the only full-data shuffle is the batch-partitioned
    window sort; the offset table is O(#batches) rows (collected +
    broadcast — the same cardinality a streaming checkpoint tracks), so
    this survives any corpus size as long as batches stay bounded, which
    ingest batches are by construction (T5 backpressure).
    """
    counts = df.groupBy(batch_col).agg(F.count(F.lit(1)).alias("n")).collect()
    if any(r[batch_col] is None for r in counts):
        # a NULL batch id has no position in the batch order and would
        # also vanish in the inner offset join — unstamped data is a
        # pipeline bug, surface it instead of crashing in sort() or
        # silently dropping rows
        raise ValueError(
            f"{batch_col} contains NULL — stamp every row with its "
            "batch id before assigning sequences"
        )
    counts.sort(key=lambda r: r[batch_col])
    offsets: list[tuple[int, int]] = []
    acc = 0
    for r in counts:
        offsets.append((r[batch_col], acc))
        acc += r["n"]
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        offsets, schema=f"{batch_col} long, _seq_offset long"
    )
    w = Window.partitionBy(batch_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    return (
        df.join(F.broadcast(off_df), batch_col)
        .withColumn(
            seq_col,
            (F.row_number().over(w).cast("long") + F.col("_seq_offset")),
        )
        .drop("_seq_offset")
    )


__all__ = ["INGEST_BATCH_COL", "assign_ingest_sequence"]
