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
    "bloom_blob_from_words",
    "bloom_prune",
    "bloom_bit_pos",
    "bloom_contains",
    "bloom_literal",
    "bloom_words",
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
    table is self-describing: ``bloom_blob_from_words`` verifies
    every input was built under the same (m, k) instead of inferring
    from blob length (which only catches a LARGER-m mismatch — a
    smaller-m words table zero-pads to the right length and probes
    misaligned bits: silent false negatives).

    This is the form to PERSIST for incremental pipelines: filters
    built from disjoint key batches (daily benchmark drops, per-shard
    corpora) merge by ``union -> groupBy(w) -> bit_or`` (which
    ``bloom_blob_from_words`` does on read) with no rebuild from keys,
    the same re-aggregation story as the daily HLL sketches and the CMS
    counter relation.  Fully distributed: keys fan out to their k positions
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


def _pos_bits(
    keys: DataFrame, key_col: str, m: int, k: int, scheme: str
) -> DataFrame:
    """(w, bits) rows: each non-null key's k bit positions as 64-bit
    word index + single-bit mask — the sparse base of the driver-packed
    literal build (``bloom_literal``)."""
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
    packs the bytes driver-side: a relational render of the blob pays
    a zero-densify union plus a second shuffle down to one row whose
    single task does per-word hex string assembly; the driver pack
    replaces both with a trivial Python loop over ≤16 K words.
    Bit-equal to the relational render by the same packing as
    ``bloom_blob_from_words`` (little-endian words, byte i = bits
    8i..8i+7), pinned by
    ``test_bloom.py::test_literal_equals_relational_render``."""
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
    bytes directly.  Bit-equal to a relational densify + render
    (test-pinned) but with ZERO shuffles and no separate geometry job:
    the geometry columns ride in the same collect and are validated
    against the caller's (m, k) expectation here."""
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
