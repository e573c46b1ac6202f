"""Bloom-filter membership sketch, relational build + literal probe.

The scale path for benchmark decontamination (and any other "is this key
in the reference set" gate): the reference set's n-grams are folded into
an ``m``-bit Bloom filter (Bloom 1970) ON THE EXECUTORS — k md5-derived
bit positions per key, packed into 64-bit words — and the resulting
single-row filter (m/8 bytes: 128 KiB at m=2^20) ships to the corpus
scan as ONE binary literal, probed with pure column expressions.
Versus the exact broadcast-set join (`q_decontaminate`): the shipped
payload is O(m) bits regardless of how many keys went in, so the
reference set can grow to hundreds of millions of entries (a full
eval-suite shingle set) while the corpus side stays a single scan with
zero shuffle.  The price is a deterministic, boundable false-positive
rate ≈ (1 − e^(−kn/m))^k — flagged docs are re-checked exactly or
over-excluded, never silently missed (a Bloom filter has NO false
negatives).

Representation notes (hard-won, see test_bloom.py):

- The filter crosses to the probe side as a SINGLE BinaryType Literal,
  byte i holding bits 8i..8i+7, so the probe for bit p is
  ``getbit(conv(hex(substring(blob, p/8+1, 1)), 16, 10), p%8)`` — all
  leaf-cheap expressions inside whole-stage codegen (~0.4 s for 4 probes
  × 2M rows warm).  The three obvious alternatives are all slow in
  PySpark: ``F.lit(list_of_16384_longs)`` builds a CreateArray with one
  py4j call PER ELEMENT (~10 s to construct, and Catalyst re-walks the
  16384-child tree on every optimizer rule); a hex STRING literal makes
  every probe O(m) because UTF8String substring re-scans for char
  boundaries; and attaching the filter by broadcast join plants the
  probe in a BroadcastNestedLoopJoin CONDITION, which Spark evaluates
  interpreted per row (~8× slower at sf0.1).  Binary substring is an
  O(1) one-byte arraycopy.
- The one driver action in ``bloom_literal`` fetches exactly one row of
  m/8 bytes — bounded by the filter geometry, never by the key count;
  that bound is the entire point of a Bloom filter and the same
  contract as kmeans' literal-broadcast centroid assign
  (operators/similarity.py).

Everything is md5-derived and engine-portable, so build and probe are
exactly reproducible in ANY engine: the DuckDB oracle replays the
identical bit positions as set membership — the word/byte packing is
representation, not semantics.

No reference analog (alphagov/paas-auditor ships events, it does not
decontaminate corpora); this is part of the LLM-training-data surface
(SURVEY.md "beyond the reference" mandate), sibling to
operators/heavyhitters.py's CMS (point frequency) and Misra-Gries
(frequent items) — Bloom answers set membership.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "BLOOM_SCHEME",
    "bloom_assemble",
    "bloom_blob_from_words",
    "bloom_blob_literal",
    "bloom_prune",
    "bloom_bit_pos",
    "bloom_bitmap",
    "bloom_contains",
    "bloom_literal",
    "bloom_merge",
    "bloom_words",
    "bloom_words_collector",
    "bloom_words_read",
]


_MASK48 = (1 << 48) - 1


def bloom_bit_pos(
    key: Column, j: int, m: int, scheme: str = "km1"
) -> Column:
    """Bit position of hash ``j`` for ``key``: Kirsch–Mitzenmacher
    double hashing — position_j = (h1 + j·h2) mod m ("Less Hashing,
    Same Performance", Kirsch & Mitzenmacher 2006: g_j = h1 + j·h2
    preserves the Bloom FP asymptotics of k independent hashes) — under
    one of two h1/h2 derivations:

    - ``km1`` (default): ONE md5 per key, h1/h2 the digest's first and
      second 48-bit halves lifted via ``conv``.  ENGINE-PORTABLE — the
      DuckDB oracle replays the identical positions, which is what the
      decontamination gates need.  Measured ~2× the per-j-salted-md5
      scheme (the md5 is the probe's hot loop); the two 12-hex-digit
      ``conv`` lifts remain its own hot spot (~1.5 µs/row each).
    - ``xx1``: two JVM-native ``xxhash64`` calls (seed-chained for
      independence), masked to 48 bits — no string digest, no conv;
      measured ~5× km1 probe throughput.  NOT replayable outside the
      JVM, so reserve it for operators whose oracle never replays the
      filter (join pruning, where the downstream exact join already
      guarantees exactness).

    Both mask to 48 bits so h1 + 3·h2 < 2^50 stays an exact,
    non-negative BIGINT (``%`` then agrees across engines, and the sum
    can never hit ANSI overflow)."""
    if scheme == "km1":
        digest = F.md5(key)
        h1 = F.conv(F.substring(digest, 1, 12), 16, 10).cast("long")
        h2 = F.conv(F.substring(digest, 13, 12), 16, 10).cast("long")
    elif scheme == "xx1":
        h1 = F.xxhash64(key).bitwiseAND(F.lit(_MASK48))
        h2 = F.xxhash64(key, F.lit(1)).bitwiseAND(F.lit(_MASK48))
    else:
        raise ValueError(f"unknown bloom position scheme {scheme!r}")
    return (h1 + F.lit(j) * h2) % m


# Default bit-position scheme, carried as a version tag by every
# persisted words relation ("km1" = engine-portable md5 double hashing;
# "xx1" = JVM-native xxhash64, see bloom_bit_pos).  Geometry (m, k)
# alone cannot distinguish a table built under a DIFFERENT position
# formula — same length, misaligned bits, silent false negatives — so
# validators reject any words table whose scheme column is missing
# (pre-versioning build) or differs from the scheme the probe will use.
BLOOM_SCHEME = "km1"


def bloom_words(
    keys: DataFrame,
    key_col: str,
    m: int = 1 << 20,
    k: int = 4,
    scheme: str = BLOOM_SCHEME,
) -> DataFrame:
    """The MERGEABLE form of the filter: a sparse (w, bits, m, k,
    scheme) relation — word index, 64 bits of that word — holding every set bit,
    plus the filter GEOMETRY (m, k) as constant columns so a persisted
    table is self-describing: ``bloom_merge``/``bloom_assemble`` verify
    every input was built under the same (m, k) instead of inferring
    from blob length (which only catches a LARGER-m mismatch — a
    smaller-m words table zero-pads to the right length and probes
    misaligned bits: silent false negatives).

    This is the form to PERSIST for incremental pipelines: filters
    built from disjoint key batches (daily benchmark drops, per-shard
    corpora) merge by ``union -> groupBy(w) -> bit_or`` — exactly
    ``bloom_merge`` — with no rebuild from keys, the same
    re-aggregation story as the daily HLL sketches and the CMS counter
    relation.  Fully distributed: keys fan out to their k positions
    (narrow ×k map) and pack map-side-combined into ≤ m/64 rows.  No
    distinct first — bit_or is idempotent, so duplicate positions cost
    nothing while a distinct would be one more full shuffle of the
    position stream.  NULL keys are dropped explicitly, mirroring SQL
    set semantics (md5(NULL) is NULL on both engines, so a NULL key
    contributes no position either way — the filter keeps the position
    stream NULL-free and the contract self-documenting).  Nothing
    key-shaped ever reaches the driver."""
    if m % 64:
        raise ValueError(f"m must be a multiple of 64, got {m}")
    pos = keys.where(F.col(key_col).isNotNull()).select(
        F.explode(
            F.array(
                *[
                    bloom_bit_pos(F.col(key_col), j, m, scheme=scheme)
                    for j in range(k)
                ]
            )
        ).alias("p")
    )
    return (
        pos.groupBy((F.col("p") / F.lit(64)).cast("long").alias("w"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))")
            ).alias("bits")
        )
        .select(
            "w",
            "bits",
            F.lit(m).cast("long").alias("m"),
            F.lit(k).cast("int").alias("k"),
            F.lit(scheme).alias("scheme"),
        )
    )


def _require_scheme_column(words_df: DataFrame, scheme: str) -> None:
    """A words table without the scheme tag predates versioning — its
    bit positions cannot be trusted to align with any probe."""
    if "scheme" not in words_df.columns:
        raise ValueError(
            "words table carries no scheme column: it was persisted "
            f"under a pre-versioning build and its bits cannot be "
            f"trusted to align with {scheme!r} probes; rebuild it with "
            "bloom_words"
        )


def _reject_foreign_schemes(schemes: set, scheme: str) -> None:
    """Identical geometry under a different position formula probes
    misaligned bits: silent false negatives, the one failure mode
    Bloom must never have."""
    if schemes and schemes != {scheme}:
        raise ValueError(
            f"words table was built under position scheme(s) "
            f"{sorted(schemes)}; this build probes {scheme!r} — "
            "rebuild the table with bloom_words"
        )


def _scheme_and_geometry(
    words_df: DataFrame, scheme: str = BLOOM_SCHEME
) -> set[tuple[int, int]]:
    """Scheme check and (m, k) read in ONE bounded distinct+collect
    (the per-table validation bloom_merge runs on every input — one
    driver round-trip per table, not two).  Returns the table's
    geometry set: empty for an empty relation (a collector partial
    whose micro-batches had zero keys — a legal merge input that
    merely contributes nothing), a singleton for any valid table;
    a mixed table raises."""
    _require_scheme_column(words_df, scheme)
    rows = words_df.select("scheme", "m", "k").distinct().collect()
    _reject_foreign_schemes({r["scheme"] for r in rows}, scheme)
    geos = {(int(r["m"]), int(r["k"])) for r in rows}
    if len(geos) > 1:
        raise ValueError(
            f"words table mixes filters of different geometry: "
            f"{sorted(geos)}; merge only filters built under identical "
            "(m, k)"
        )
    return geos


def _words_geometry(
    words_df: DataFrame, scheme: str = BLOOM_SCHEME
) -> tuple[int, int]:
    """Read the (m, k) geometry a words relation was built under,
    refusing an empty or mixed table or a foreign position scheme.  The
    collect is bounded by the number of DISTINCT geometries/schemes
    (1 in any valid table), never by filter or key size."""
    geos = _scheme_and_geometry(words_df, scheme)
    if not geos:
        raise ValueError(
            "empty words relation: (m, k) geometry unknown — build with "
            "bloom_words, or merge it with a non-empty filter and "
            "assemble that"
        )
    ((m, k),) = geos
    return m, k


def bloom_merge(
    *word_tables: DataFrame, scheme: str = BLOOM_SCHEME
) -> DataFrame:
    """OR any number of (w, bits, m, k) filters into one — a Bloom
    filter's union IS the filter of the union of the key sets,
    bit-exactly (test-pinned).  Inputs must agree on (m, k): the
    geometry columns each table carries are validated here (one bounded
    distinct), because OR-ing words of different-m filters silently
    yields false negatives — the one failure mode Bloom must never
    have."""
    if not word_tables:
        raise ValueError("bloom_merge needs at least one word table")
    # localCheckpoint before validating: each input is consumed by its
    # own scheme collect, the merged geometry collect AND the union —
    # without the cut a freshly-built words relation would re-run its
    # full key-fold build per consumer.  Words relations are bounded at
    # m/64 rows, so the checkpoint is O(m), never key-count-shaped
    # (the hist_merge convention).
    word_tables = tuple(t.localCheckpoint(eager=False) for t in word_tables)
    # per-input scheme AND geometry validation BEFORE the union (one
    # bounded distinct per table): a legacy table (no scheme column)
    # would otherwise surface as an opaque union-schema error instead
    # of the actionable rebuild message, and the merged relation needs
    # no re-validation — cross-table agreement is checked right here.
    # Empty partials (collector micro-batches with zero keys) are legal
    # inputs: they impose no geometry and contribute no bits.
    geos: set[tuple[int, int]] = set()
    for t in word_tables:
        geos |= _scheme_and_geometry(t, scheme)
    if len(geos) > 1:
        raise ValueError(
            f"words tables mix filters of different geometry: "
            f"{sorted(geos)}; merge only filters built under identical "
            "(m, k)"
        )
    if not geos:
        raise ValueError(
            "all words relations are empty: (m, k) geometry unknown — "
            "include at least one non-empty filter in the merge"
        )
    merged = word_tables[0]
    for t in word_tables[1:]:
        merged = merged.unionByName(t)
    ((m, k),) = geos
    return (
        merged.groupBy("w")
        .agg(F.bit_or("bits").alias("bits"))
        .select(
            "w",
            "bits",
            F.lit(m).cast("long").alias("m"),
            F.lit(k).cast("int").alias("k"),
            F.lit(scheme).alias("scheme"),
        )
    )


def bloom_assemble(
    words_df: DataFrame,
    m: int | None = None,
    scheme: str = BLOOM_SCHEME,
) -> DataFrame:
    """Densify a sparse (w, bits) relation into the probe form: 1-row
    DataFrame with column ``bloom`` = m/8 bytes of binary, byte i
    holding bits 8i..8i+7 (bit p => byte p div 8, bit p mod 8).

    Geometry comes from the words relation itself when it carries
    (m, k) columns (anything built by ``bloom_words``/``bloom_merge``);
    a caller-passed ``m`` is then cross-checked, and a mismatch raises
    instead of zero-padding a smaller-m table to a plausible length
    (the silent-false-negative hole the old length-only guard missed).

    The assembly avoids per-element map lookups (element_at on a
    non-literal map is a linear scan — O(words²) was ~6 s at m=2^20): a
    zero row is unioned for every word index and re-folded with bit_or
    so each word appears exactly once, then array_sort on the collected
    (w, bits) structs makes position i+1 be word i by construction.
    Each word renders its 8 bytes as hex pairs in little-endian BYTE
    order (``sequence(15, 1, -2)`` walks the word's big-endian hex two
    chars at a time from the low byte), so the concatenation unhex()es
    straight into the byte layout above.  O(words log words), all
    JVM-side; the only driver-adjacent object is the m/8-byte filter
    row itself, which is the shipped payload by design
    (``bloom_literal``)."""
    if "m" in words_df.columns:
        wm, _wk = _words_geometry(words_df, scheme)
        if m is not None and m != wm:
            raise ValueError(
                f"words table was built under m={wm} but assemble was "
                f"asked for m={m}: filter built/merged under a different m"
            )
        m = wm
    elif m is None:
        raise ValueError(
            "words table carries no (m, k) geometry columns; pass m"
        )
    if m % 64:
        raise ValueError(f"m must be a multiple of 64, got {m}")
    words = m // 64
    all_words = words_df.sparkSession.range(words).select(
        F.col("id").alias("w"), F.lit(0).cast("long").alias("bits")
    )
    dense = (
        words_df.select("w", "bits")
        .unionByName(all_words)
        .groupBy("w")
        .agg(F.bit_or("bits").alias("bits"))
    )
    return _render_blob(dense)


def _render_blob(dense: DataFrame) -> DataFrame:
    """One-row blob from a DENSE (w, bits) relation (every word index
    present exactly once): array_sort makes position i+1 be word i, each
    word renders as little-endian hex pairs, unhex packs the bytes."""

    def word_le_hex(e: Column) -> Column:
        # conv(bits, 10, 16) is unsigned-64 hex (bit 63 safe), lpad to
        # 16 chars big-endian; re-pair from the tail for byte order
        h = F.lpad(F.conv(e["bits"], 10, 16), 16, "0")
        return F.array_join(
            F.transform(
                F.sequence(F.lit(15), F.lit(1), F.lit(-2)),
                lambda i: F.substring(h, i, F.lit(2)),
            ),
            "",
        )

    return dense.agg(
        F.array_sort(F.collect_list(F.struct("w", "bits"))).alias("_e")
    ).select(
        F.unhex(
            F.array_join(F.transform(F.col("_e"), word_le_hex), "")
        ).alias("bloom")
    )


def bloom_bitmap(
    keys: DataFrame,
    key_col: str,
    m: int = 1 << 20,
    k: int = 4,
    scheme: str = BLOOM_SCHEME,
) -> DataFrame:
    """Build the probe-form filter straight from keys — semantically
    ``bloom_assemble(bloom_words(keys))``, but fused: the zero row per
    word index is injected at the POSITION level, so densify folds into
    the same groupBy that packs bits (two shuffles end-to-end instead
    of three).  Keep the sparse ``bloom_words`` relation instead when
    the filter is built incrementally (``bloom_merge``)."""
    if m % 64:
        raise ValueError(f"m must be a multiple of 64, got {m}")
    words = m // 64
    pos_bits = _pos_bits(keys, key_col, m, k, scheme)
    zeros = keys.sparkSession.range(words).select(
        F.col("id").alias("w"), F.lit(0).cast("long").alias("bits")
    )
    dense = (
        pos_bits.unionByName(zeros)
        .groupBy("w")
        .agg(F.bit_or("bits").alias("bits"))
    )
    return _render_blob(dense)


def _pos_bits(
    keys: DataFrame, key_col: str, m: int, k: int, scheme: str
) -> DataFrame:
    """(w, bits) rows: each non-null key's k bit positions as 64-bit
    word index + single-bit mask — the shared sparse base of the
    relational build (``bloom_bitmap``) and the driver-packed literal
    build (``bloom_literal``)."""
    return keys.where(F.col(key_col).isNotNull()).select(
        F.explode(
            F.array(
                *[
                    bloom_bit_pos(F.col(key_col), j, m, scheme=scheme)
                    for j in range(k)
                ]
            )
        ).alias("p")
    ).select(
        (F.col("p") / F.lit(64)).cast("long").alias("w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias(
            "bits"
        ),
    )


def bloom_literal(
    keys: DataFrame,
    key_col: str,
    m: int = 1 << 20,
    k: int = 4,
    scheme: str = BLOOM_SCHEME,
) -> Column:
    """Build the filter and return it as a single BinaryType Literal —
    the form ``bloom_contains`` wants on the probe side (see module
    docstring for why a literal, and why binary).

    The build collects the SPARSE (w, bits) aggregate — ≤ m/64 narrow
    rows, the same O(m)-payload bound as the one-row blob fetch — and
    packs the bytes driver-side (r11, guide §1.2): the relational
    render (``bloom_bitmap`` + collect) pays a zero-densify union plus
    a second shuffle down to one row whose single task does per-word
    hex string assembly; the driver pack replaces both with a trivial
    Python loop over ≤16 K words.  Bit-equal to the relational path by
    the same packing as ``bloom_blob_from_words`` (little-endian words,
    byte i = bits 8i..8i+7), pinned by
    ``test_bloom.py::test_literal_equals_relational_render``.  Keep
    ``bloom_bitmap`` when the blob must stay a relation."""
    if m % 64:
        raise ValueError(f"m must be a multiple of 64, got {m}")
    sparse = (
        _pos_bits(keys, key_col, m, k, scheme)
        .groupBy("w")
        .agg(F.bit_or("bits").alias("bits"))
    )
    words = [0] * (m // 64)
    for r in sparse.collect():
        words[int(r["w"])] |= int(r["bits"]) & 0xFFFFFFFFFFFFFFFF
    blob = b"".join(wd.to_bytes(8, "little") for wd in words)
    return F.lit(blob)


def bloom_blob_literal(bitmap_df: DataFrame, m: int) -> Column:
    """Collect an assembled 1-row ``bloom`` blob into a probe literal,
    refusing a blob whose length disagrees with ``m`` — a words table
    built (or merged) under a DIFFERENT m assembles to the wrong length
    and would otherwise probe misaligned bytes, i.e. silent FALSE
    NEGATIVES, the one failure mode a Bloom filter must never have."""
    blob = bytes(bitmap_df.collect()[0]["bloom"])
    if len(blob) != m // 8:
        raise ValueError(
            f"bloom blob is {len(blob)} bytes but m={m} implies {m // 8}: "
            "filter built/merged under a different m"
        )
    return F.lit(blob)


def bloom_blob_from_words(
    words_df: DataFrame,
    m: int | None = None,
    k: int | None = None,
    scheme: str = BLOOM_SCHEME,
) -> Column:
    """Probe literal straight from a persisted words relation, packed on
    the DRIVER: one job collects the sparse (w, bits, m, k) rows —
    bounded at m/64 rows × 16 bytes, the same O(m)-payload contract as
    ``bloom_literal``'s one-row blob fetch, never key-count-shaped —
    and Python ORs duplicates (per-batch appends) and renders the m/8
    bytes directly.  Bit-equal to ``bloom_assemble`` + collect
    (test-pinned) but with ZERO shuffles and no separate geometry job:
    the geometry columns ride in the same collect and are validated
    against the caller's (m, k) expectation here.  This is the hot path
    for a probe-only decontamination run; keep ``bloom_assemble`` when
    the blob itself must stay a relation (e.g. written to a table)."""
    _require_scheme_column(words_df, scheme)
    rows = words_df.select("w", "bits", "m", "k", "scheme").collect()
    _reject_foreign_schemes({r["scheme"] for r in rows}, scheme)
    geos = {(int(r["m"]), int(r["k"])) for r in rows}
    if len(geos) > 1:
        raise ValueError(
            f"words table mixes filters of different geometry: {sorted(geos)}; "
            "merge only filters built under identical (m, k)"
        )
    if geos:
        wm, wk = geos.pop()
        if m is not None and m != wm:
            raise ValueError(
                f"words table was built under m={wm} but probe expects "
                f"m={m}: filter built/merged under a different m"
            )
        if k is not None and k != wk:
            raise ValueError(
                f"words table was built under k={wk} but probe expects k={k}"
            )
        m = wm
    elif m is None:
        raise ValueError("empty words table and no m given")
    if m % 64:
        raise ValueError(f"m must be a multiple of 64, got {m}")
    words = [0] * (m // 64)
    for r in rows:
        words[int(r["w"])] |= int(r["bits"]) & 0xFFFFFFFFFFFFFFFF
    blob = b"".join(wd.to_bytes(8, "little") for wd in words)
    return F.lit(blob)


def bloom_words_collector(
    key_col: str,
    path: str,
    m: int = 1 << 20,
    k: int = 4,
    scheme: str = BLOOM_SCHEME,
    protocol: str = "rename",
):
    """foreachBatch hook for INCREMENTAL filter maintenance: each
    micro-batch of new benchmark keys lands its own (w, bits, m, k,
    scheme) words relation under ``path`` — nothing is rebuilt from
    keys, ever.  Readers get the merged filter for free:
    ``bloom_assemble`` over ``bloom_words_read(path)`` folds the
    per-batch rows with the same bit_or the explicit ``bloom_merge``
    uses (OR is associative), and the carried geometry/scheme columns
    reject a mixed-(m, k) or foreign-scheme append.  Gate refresh is
    the reader's choice — re-assemble when the table grows (cheap:
    O(m/64) rows), keep probing the old literal otherwise.

    Concurrency contract: `operators/atomic.py:commit_batch_dir` — each
    batch lands in a private hidden tmp dir and one atomic rename
    publishes it, so a concurrent reader sees whole batches or nothing,
    never a half-committed file set (a torn read would pack a literal
    missing some of the batch's bits: false negatives), and a genuine
    commit failure RAISES instead of silently dropping the batch (see
    that module for the filesystem contract and the racer/replay
    semantics).  Delivery is at-least-once-safe twice over: a replayed
    batch finds its committed directory and skips, and even a duplicate
    append would only re-OR identical bits.

    ``protocol`` picks the publish primitive for the target filesystem:
    ``"rename"`` (default — local disk/NFS/HDFS, atomic directory
    rename) or ``"marker"`` (object stores, exclusive-create commit
    marker: `atomic.commit_batch_dir_marker`).  Read with the SAME
    protocol (``bloom_words_read``)."""
    from paas_auditor_spark.operators.atomic import commit_fn

    commit = commit_fn(protocol)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        commit(
            path,
            batch_id,
            lambda tmp: bloom_words(batch_df, key_col, m=m, k=k, scheme=scheme)
            .write.mode("overwrite")
            .parquet(tmp),
        )

    return write_batch


def bloom_words_read(spark, path: str, protocol: str = "rename") -> DataFrame:
    """Snapshot-consistent read of a collector-maintained words
    directory — the read half of ``bloom_words_collector``'s
    whole-batches-or-nothing contract, per protocol: only COMMITTED
    batch directories, resolved through the generation pointer so a
    compacted dataset reads its live generation only (the path rules
    live in one place: ``atomic.batch_data_paths``)."""
    from paas_auditor_spark.operators.atomic import batch_data_paths
    from paas_auditor_spark.sources.tables import read_parquet_cached

    return read_parquet_cached(spark, *batch_data_paths(path, protocol))


def bloom_contains(
    key: Column,
    bitmap: Column,
    m: int = 1 << 20,
    k: int = 4,
    scheme: str = BLOOM_SCHEME,
) -> Column:
    """True iff every one of ``key``'s k bits is set in ``bitmap`` (the
    binary form) — the standard Bloom probe, as pure column expressions
    (JVM-side, whole-stage codegen; no UDF, no join).  Binary substring
    is an O(1) single-byte slice; hex+conv lifts the byte to a long for
    getbit.  ``scheme`` must be the one the bitmap was BUILT under — the
    builders validate persisted tables, but an assembled blob carries no
    scheme metadata, so the caller owns this last hop."""

    def bit_set(j: int) -> Column:
        p = bloom_bit_pos(key, j, m, scheme=scheme)
        byte = F.substring(
            bitmap, (p / F.lit(8)).cast("int") + F.lit(1), F.lit(1)
        )
        return F.getbit(F.conv(F.hex(byte), 16, 10).cast("long"), p % 8) == 1

    probe = reduce(lambda a, b: a & b, [bit_set(j) for j in range(k)])
    # a NULL key is not a member (matches the build side dropping NULLs):
    # md5(NULL) propagates NULL through the probe, and NULL & ... must
    # resolve to False, not NULL, for a membership predicate
    return key.isNotNull() & probe


def bloom_prune(
    fact: DataFrame,
    fact_key: str,
    keys: DataFrame,
    key_col: str,
    m: int = 1 << 20,
    k: int = 4,
    scheme: str = "xx1",
) -> DataFrame:
    """Runtime-filter join pruning — the manual, oracle-checkable analog
    of Spark's AQE runtime Bloom filter (`spark.sql.optimizer.
    runtimeFilter.bloomFilter.enabled`, off by default): fold the build
    side's JOIN KEYS into an O(m)-bit literal and filter the probe
    (fact) side map-side, BEFORE the join's shuffle ever sees it.

    Returns a SUPERSET of the matching fact rows: zero false negatives
    (every true match survives — the Bloom guarantee), plus a
    deterministic ~(1−e^{−kn/m})^k false-positive fraction that the
    downstream exact join eliminates — so `bloom_prune(...).join(dim)`
    is EXACTLY `fact.join(dim)`, which is what lets the registered
    query carry a plain-join oracle with no bloom replay.

    The 100 TB case this exists for: the build side's ROW PAYLOAD is
    too wide to broadcast (a full dimension table) but its key SET fits
    a filter — 100 M keys at m = 2^27 is a 16 MiB literal riding the
    plan, and a 0.1 %-selective prune means the SortMergeJoin shuffles
    0.1 % of the fact table instead of all of it.

    Key typing: both columns are cast to string before hashing (so
    BIGINT surrogate keys work under ANSI md5/xxhash64 typing), which
    is only sound when the two sides RENDER identically — an INT 7
    ("7") and a DOUBLE 7.0 ("7.0") would equi-join after coercion but
    hash to different bits, and the prune would silently drop true
    matches, breaking the superset contract.  The guard below therefore
    requires the two key columns to share one data type; cast them to a
    common type at the call site first.

    Defaults to the ``xx1`` position scheme (bloom_bit_pos): the probe
    runs once per FACT row — the hot loop of the whole operator — and
    xxhash64 probes measured ~5× the md5+conv km1 probes (0.5 s vs
    2.8 s over 600 k rows at sf0.1).  km1's engine portability buys
    nothing here because the oracle replays the plain join, never the
    filter; pass ``scheme="km1"`` only if the same filter must also be
    probed by a non-JVM engine.

    Build path: distributed ``bloom_words`` fold (keys fan out on the
    executors, nothing key-shaped reaches the driver) + the
    ``bloom_blob_from_words`` driver pack — the sparse words collect is
    the SAME m/8-byte payload as a rendered-blob fetch but skips the
    densify/render stages (~1.5 s of fixed per-build latency at any m;
    a join gate may be rebuilt per batch, so build latency matters here
    in a way it doesn't for the one-off decontamination gate).
    """
    fact_t = fact.schema[fact_key].dataType
    keys_t = keys.schema[key_col].dataType
    if fact_t != keys_t:
        raise ValueError(
            f"bloom_prune key types differ: fact.{fact_key} is "
            f"{fact_t.simpleString()} but keys.{key_col} is "
            f"{keys_t.simpleString()} — differently-typed keys can "
            "render (and hash) differently even where an equi-join "
            "would coerce and match, silently pruning true matches; "
            "cast both columns to a common type first"
        )
    key_strs = keys.select(F.col(key_col).cast("string").alias("k"))
    bitmap = bloom_blob_from_words(
        bloom_words(key_strs, "k", m=m, k=k, scheme=scheme),
        m=m,
        k=k,
        scheme=scheme,
    )
    return fact.where(
        bloom_contains(
            F.col(fact_key).cast("string"), bitmap, m=m, k=k, scheme=scheme
        )
    )
