"""Mergeable fixed-bin histogram quantile sketch.

The fourth classic mergeable summary, completing the sketch family
(HLL count-distinct, CMS point frequency, Bloom membership —
`queries.py:q_hll_mergeable_sketch`, `heavyhitters.py`, `bloom.py`):
a bounded O(n_bins)-row relation from which any quantile is read off
by linear interpolation, exact to one bin width.

Why not `percentile_approx` (Spark's built-in KLL-style sketch,
registered as `approx_percentiles`)?  Its sketch content is
engine-specific, so it can only ever be rows-only checked and its
internal state can't be persisted as a relation.  The fixed-bin
histogram trades adaptive resolution for DETERMINISM: given the same
(lo, hi, n_bins) geometry the sketch content is a closed form any
engine reproduces bit-for-bit — the registered query carries a full
DuckDB oracle replaying build, merge and interpolated read-off — and
the sketch is a plain (bin, cnt) parquet row set, so the
build-per-shard → persist → merge-without-rescan lifecycle works with
ordinary tables (test-pinned roundtrip, mirroring the persisted
`bloom_words` relation).

Scale shape: the build is one narrow map (bin assignment) + one
map-side-combined groupBy reducing to ≤ n_bins rows per shard —
shuffle volume is constant in input size, the property that makes
incremental quantile rollup possible at 100 TB (re-aggregating
history for a new day costs O(n_bins), not a re-scan).  The read-off
runs entirely over ≤ n_bins × n_probs rows: cumulative window, one
1-row totals broadcast, no driver collect anywhere.

Accuracy contract: the interpolated estimate is within one bin width
(hi − lo)/n_bins of the true quantile whenever the target rank falls
strictly inside the data range (property-tested); values outside
[lo, hi] clamp into the boundary bins, so quantile mass beyond the
declared range degrades to the boundary value rather than erroring —
the standard fixed-range histogram contract.

Reference parity: the reference has only exact aggregates
(`store.go` count/max); this operator is part of the
beyond-reference scale surface, alongside HLL/CMS/Bloom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "hist_collector",
    "hist_merge",
    "hist_quantiles",
    "hist_read",
    "hist_sketch",
]

_GEOM = ("lo", "hi", "nb")


def _bin_expr(value: F.Column, lo: F.Column, hi: F.Column, nb: int) -> F.Column:
    """Clamped bin index.  The degenerate hi == lo range (all values
    identical) maps everything to bin 0 instead of dividing by zero;
    the max value otherwise lands exactly on the n_bins boundary and
    the least() clamps it into the top bin."""
    raw = F.floor((value - lo) / (hi - lo) * F.lit(nb)).cast("int")
    clamped = F.least(F.lit(nb - 1), F.greatest(F.lit(0), raw))
    return F.when(hi == lo, F.lit(0)).otherwise(clamped)


def hist_sketch(
    df: DataFrame,
    value_col: str,
    n_bins: int = 64,
    lo: float | None = None,
    hi: float | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """Build the sketch: (*by, bin, cnt, lo, hi, nb), ≤ n_bins rows per
    ``by`` group.  NULL values are dropped (they have no rank; without
    the filter the bin expression would propagate NULL into a bin no
    read-off can use — the bloom_words/cms_table convention).

    When ``lo``/``hi`` are omitted they come from an in-plan min/max
    aggregate riding a 1-row broadcast cross join — no driver collect,
    and the carried geometry columns make the persisted sketch
    self-describing exactly like bloom_words' (m, k): ``hist_merge``
    refuses inputs built under different geometry, because identical
    bin indices under different ranges describe different intervals —
    merging them would silently corrupt every quantile.

    ``by`` columns (e.g. a day column) produce per-group partials that
    ``hist_merge`` folds into the total without rescanning raw data —
    the incremental-rollup lifecycle."""
    if (lo is None) != (hi is None):
        raise ValueError(
            "hist_sketch bounds must be both explicit or both derived: "
            f"got lo={lo!r}, hi={hi!r} — silently recomputing the "
            "missing bound from data would anchor the bins differently "
            "than the caller asked for"
        )
    vals = df.where(F.col(value_col).isNotNull())
    if lo is None or hi is None:
        bounds = vals.agg(
            F.min(value_col).cast("double").alias("lo"),
            F.max(value_col).cast("double").alias("hi"),
        )
        vals = vals.crossJoin(F.broadcast(bounds))
        lo_c, hi_c = F.col("lo"), F.col("hi")
    else:
        lo_c, hi_c = F.lit(float(lo)), F.lit(float(hi))
        vals = vals.withColumn("lo", lo_c).withColumn("hi", hi_c)
    keys = list(by or [])
    return (
        vals.select(
            *keys,
            "lo",
            "hi",
            _bin_expr(F.col(value_col).cast("double"), lo_c, hi_c, n_bins).alias(
                "bin"
            ),
        )
        .groupBy(*keys, "lo", "hi", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            *keys,
            "bin",
            "cnt",
            "lo",
            "hi",
            F.lit(n_bins).alias("nb"),
        )
    )


def _geometry(sketch: DataFrame) -> tuple[float, float, int]:
    """Read the (lo, hi, n_bins) geometry a sketch was built under,
    refusing a mixed relation.  The collect is bounded by the number of
    DISTINCT geometries (1 in any valid sketch), never by data size."""
    missing = [c for c in _GEOM if c not in sketch.columns]
    if missing:
        raise ValueError(
            f"sketch carries no geometry column(s) {missing}: not a "
            "hist_sketch relation"
        )
    rows = sketch.select(*_GEOM).distinct().collect()
    if not rows:
        raise ValueError(
            "empty sketch relation: (lo, hi, n_bins) geometry unknown — "
            "build with hist_sketch, or merge with a non-empty sketch"
        )
    if len(rows) != 1:
        geos = sorted(
            (float(r["lo"]), float(r["hi"]), int(r["nb"])) for r in rows
        )
        raise ValueError(
            f"mixed sketch geometries {geos}: bins built under different "
            "(lo, hi, n_bins) describe different intervals and must not "
            "be merged — rebuild under one geometry"
        )
    r = rows[0]
    return float(r["lo"]), float(r["hi"]), int(r["nb"])


def hist_merge(*sketches: DataFrame) -> DataFrame:
    """Union per-shard/per-group partials into one sketch by summing
    counts per bin — counts are additive, so merge ≡ single-shot build
    over the concatenated data (test-pinned bit-equal).  Extra
    partition columns (a ``by`` day column) are folded away; geometry
    is validated per input BEFORE the union so a foreign sketch fails
    with the actionable message, not a union-schema error."""
    if not sketches:
        raise ValueError("hist_merge needs at least one sketch")
    # localCheckpoint before validating: each sketch is consumed TWICE
    # (the bounded _geometry collect, then the union) — without the cut
    # a freshly-built input would re-run its full build scan per
    # consumer.  Sketches are constant-sized (≤ n_bins rows per group),
    # so the checkpoint is O(n_bins), never data-sized.
    sketches = tuple(s.localCheckpoint(eager=False) for s in sketches)
    for s in sketches:
        _geometry(s)
    cols = ["bin", "cnt", *_GEOM]
    merged = sketches[0].select(*cols)
    for s in sketches[1:]:
        merged = merged.unionByName(s.select(*cols))
    lo, hi, nb = _geometry(merged)
    net = (
        merged.groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    # retraction contract (hist_collector retract=True): net bin counts
    # must stay non-negative — a negative means values were retracted
    # that were never ingested (or retracted twice), which would
    # silently corrupt every quantile.  The check is one bounded action
    # over ≤ n_bins already-checkpointed rows (the lm_index_finalize
    # convention, at merge time because a sketch has no finalize step).
    n_neg = net.filter(F.col("cnt") < 0).count()
    if n_neg:
        raise ValueError(
            f"{n_neg} bin(s) have negative net counts after merge: a "
            "retraction sketch does not match any ingested values — fix "
            "the retraction stream before reading quantiles off this "
            "sketch"
        )
    return net.filter(F.col("cnt") > 0).select(
        "bin",
        "cnt",
        F.lit(lo).alias("lo"),
        F.lit(hi).alias("hi"),
        F.lit(nb).alias("nb"),
    )


def hist_collector(
    value_col: str,
    path: str,
    n_bins: int,
    lo: float,
    hi: float,
    retract: bool = False,
):
    """foreachBatch hook for INCREMENTAL quantile maintenance: each
    micro-batch lands its own ≤ n_bins-row sketch under ``path`` via the
    shared write-to-hidden-tmp + atomic-rename commit (a concurrent reader
    sees whole batches or nothing), and ``hist_read(path)`` +
    ``hist_merge`` fold the history into the running distribution
    without ever rescanning raw batches.  Bounds must be EXPLICIT here:
    per-batch in-plan bounds would give each partial its own geometry
    and hist_merge would (correctly) refuse to fold them.  Counts are
    NOT idempotent under re-append (bits would OR, counts ADD), so the
    committed-directory skip inside
    `operators/atomic.py:commit_batch_dir` (the shared commit protocol —
    see that module for the racer/replay/failure semantics) is the
    correctness mechanism, not merely an optimization — a replayed
    batch finds its ``batch-<id>`` directory and writes nothing.

    ``retract=True`` makes the hook a DELETION writer (the additive
    families' takedown answer, shared with
    ``corpus.lm_counts_collector``): the batch's bin counts land
    NEGATED and ``hist_merge``'s sums net them out, leaving the sketch
    bit-identical to one built without the retracted values
    (oracle-checked by quantile_sketch_retracted).  Retract only values
    actually ingested, exactly once, under the SAME geometry —
    ``hist_merge`` validates (negative net bins raise loudly)."""
    from paas_auditor_spark.operators.atomic import commit_batch_dir

    sign = -1 if retract else 1

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        commit_batch_dir(
            path,
            batch_id,
            lambda tmp: hist_sketch(
                batch_df, value_col, n_bins=n_bins, lo=lo, hi=hi
            )
            .withColumn("cnt", F.col("cnt") * F.lit(sign))
            .write.mode("overwrite")
            .parquet(tmp),
        )

    return write_batch


def hist_read(spark, path: str) -> DataFrame:
    """Read a collector-maintained sketch directory (the read half of
    the commit contract): only COMMITTED batch directories, resolved
    through the generation pointer (``atomic.batch_data_paths`` owns
    the path rules)."""
    from paas_auditor_spark.operators.atomic import batch_data_paths

    return spark.read.parquet(*batch_data_paths(path))


def hist_quantiles(sketch: DataFrame, probs: list[float]) -> DataFrame:
    """Interpolated quantile read-off: for each probability p, find the
    first bin whose cumulative count reaches rank p·N and interpolate
    linearly inside it —

        est = lo + (hi − lo)/nb · (bin + (p·N − cum_prev)/cnt)

    Returns (prob, est) ordered by prob, est rounded to 4dp.  Every
    relation here is sketch-sized: the cumulative window runs over
    ≤ n_bins rows (single-partition by construction — the sketch is
    CONSTANT-sized, so the unpartitioned window is bounded, the same
    justification as every other tiny-relation window in this repo),
    probs explode from a literal array, totals ride a 1-row broadcast.
    The whole read-off is a closed form over integers and IEEE doubles,
    which is what lets the registered query's oracle replay it
    exactly."""
    # three consumers (geometry collect, cumulative window, totals agg)
    # read one O(n_bins) materialization instead of re-running whatever
    # build produced the sketch
    sketch = sketch.localCheckpoint(eager=False)
    lo, hi, nb = _geometry(sketch)
    cum = sketch.select(
        "bin",
        "cnt",
        F.sum("cnt").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
    )
    total = sketch.agg(F.sum("cnt").alias("n"))
    probs_df = (
        sketch.sparkSession.range(1)
        .select(
            F.explode(F.array(*[F.lit(float(p)) for p in probs])).alias("prob")
        )
    )
    target = F.col("prob") * F.col("n")
    hit = (
        probs_df.crossJoin(F.broadcast(total))
        .join(F.broadcast(cum), cum["cum"] >= target)
        .groupBy("prob", "n")
        .agg(F.min(F.struct("bin", "cnt", "cum")).alias("h"))
        .select("prob", "n", "h.bin", "h.cnt", "h.cum")
    )
    est = F.lit(lo) + F.lit(hi - lo) / F.lit(nb) * (
        F.col("bin")
        + (F.col("prob") * F.col("n") - (F.col("cum") - F.col("cnt")))
        / F.col("cnt")
    )
    return hit.select("prob", F.round(est, 4).alias("est")).orderBy("prob")
