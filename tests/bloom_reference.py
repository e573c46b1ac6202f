"""Relational Bloom builds, kept as the reference the live builds in
``paas_auditor_spark.operators.bloom`` are pinned bit-equal to.

``bloom_bitmap`` renders the filter blob as a one-row relation and
``bloom_assemble`` densifies a persisted (w, bits, m, k, scheme) words
relation the same way; ``bloom_literal`` and ``bloom_blob_from_words``
pack the same bytes on the driver instead (``tests/test_bloom.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from paas_auditor_spark.operators.bloom import (
    BLOOM_SCHEME,
    _pos_bits,
    _reject_foreign_schemes,
    _require_scheme_column,
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
