"""Deduplication operator family for the training-data pipeline surface.

Reference parity: the reference's only dedup is keyed ON CONFLICT DO NOTHING
(store.go:92, handled by operators.ingest.ingest_delta).  This module
adds the LLM-data dedup ladder: exact, near-dup MinHash+LSH, SimHash, and
n-gram Jaccard — all as DataFrame compositions.

Scale design:
- Exact dedup is a hash-groupBy on a 128-bit content hash: one shuffle of
  (hash, id) pairs only, never the payload.
- MinHash signatures are computed per-row with built-in array functions
  (JVM-side); LSH banding turns near-dup search into an equi-join on
  (band_id, band_hash) — the classic trick that avoids the O(n²) pair space.
  Candidate verification re-computes exact Jaccard only on candidate pairs.
- SimHash packs 64 per-bit majority votes into one BIGINT; Hamming
  neighborhoods are found by banding the 64 bits into 4 × 16-bit keys
  (any pair within Hamming distance 3 shares at least one full band).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from paas_auditor_spark.functions.exprs import fan_out, let
from paas_auditor_spark.functions.text import normalized_text, tokens
from paas_auditor_spark.sources.tables import read_parquet_cached

HASH_PRIME = 2147483647  # 2^31 - 1, Mersenne prime for cheap affine perms
# pre-reduction modulus for the polynomial band-key fold: the largest
# prime below 2^43 such that (FOLD_MOD-1)*1000003 + HASH_PRIME < 2^63 —
# keeps every fold step inside int64 under ANSI mode at any
# rows_per_band, while being a no-op for rows_per_band <= 2 (acc < 2^31)
FOLD_MOD = 8796093022151


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by content hash: one row per distinct normalized text with
    the kept (minimum) id and the duplicate count.

    Deterministic 'first wins by id' policy instead of dropDuplicates'
    arbitrary winner, so results are stable across partitionings.
    """
    return (
        fan_out(df.select(F.col(text_col), F.col(id_col)))
        .select(
            F.md5(normalized_text(F.col(text_col))).alias("text_hash"),
            F.col(id_col),
        )
        .groupBy("text_hash")
        .agg(
            # no cast: min() preserves the caller's id type — a long cast
            # would null out string ids (the engine's own guid keyspace)
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles(text_col: str, k: int = 3) -> F.Column:
    """k-word shingles of the normalized text as array<string>.

    Built as a zip_with chain over k offset slices of the token array
    (shingle i = toks[i] ⊕ toks[i+1] ⊕ … ⊕ toks[i+k-1]) instead of a
    per-index ``transform`` + ``slice`` — the transform formulation
    re-evaluates the tokenizer once per shingle (no hoisting through HOF
    lambdas), turning an O(n) split into O(n²) regex work per row.  The
    ``let`` binding makes the tokenizer run exactly once per row.
    """
    if k < 1:
        # k=0 silently degrades shingles to bare tokens (the slice
        # bounds go degenerate), turning shingle Jaccard into unigram
        # Jaccard — word-reordered documents would score 1.0.  Loudly,
        # like every other parameter in this family.
        raise ValueError(f"shingle k must be >= 1, got {k}")

    def build(toks: Column) -> Column:
        n = F.size(toks)
        cnt = n - (k - 1)
        joined = F.slice(toks, 1, cnt)
        for offset in range(2, k + 1):
            joined = F.zip_with(
                joined,
                F.slice(toks, offset, cnt),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        return F.when(n >= k, joined).otherwise(F.array(F.array_join(toks, " ")))

    return let(tokens(normalized_text(F.col(text_col))), build)


def _shingle_hash(s: Column, hash_fn: str) -> Column:
    """One shingle string → bigint in [0, HASH_PRIME).

    ``"xxhash64"`` (default): the fast JVM hash — engine-specific, so
    queries built on it are rows-only checked.  ``"md5"``: a CLOSED-FORM
    twin both engines can compute bit-identically — the first 15 hex
    digits of md5 parsed as an integer (< 2⁶⁰, no sign issues), mod p;
    DuckDB replays it as ``CAST('0x' || substr(md5(s), 1, 15) AS
    BIGINT) % p``.  md5 costs ~2-3× xxhash64 per shingle (the bloom
    family's km1/xx1 lesson), so the closed form backs the bounded
    oracle TWIN while the flagship keeps xxhash64 throughput."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(s), F.lit(HASH_PRIME))
    if hash_fn == "md5":
        return F.pmod(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
            F.lit(HASH_PRIME),
        )
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


def hashed_shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, hset) where hset = distinct shingle hashes mod p.

    The shared base for signatures AND verification: each shingle string is
    hashed exactly once, and every downstream set operation (explode for
    MinHash minima, array_intersect for Jaccard verify) runs on compact
    bigints instead of re-comparing strings.  ``hash_fn`` — see
    ``_shingle_hash``.
    """
    hset = F.array_distinct(
        F.transform(
            shingles(text_col, shingle_k),
            lambda s: _shingle_hash(s, hash_fn),
        )
    )
    # fan_out BEFORE the shingle map: a single-row-group parquet scan is one
    # partition, which would run the whole tokenize+hash serially (measured
    # 2.0 s of minhash_near_dup's 2.2 s at sf0.1); shuffling the narrow
    # (id, text) projection first unlocks full parallelism, and at real
    # scale (many splits) fan_out is a no-op
    base = fan_out(df.select(F.col(id_col), F.col(text_col)))
    return base.select(F.col(id_col), hset.alias("hset"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-document MinHash signature as array<bigint> of length num_hashes.

    Permutation i is the affine map (a_i * x + b_i) mod p over the base
    xxhash64 of each shingle — all computed with built-in array functions,
    entirely JVM-side (no UDFs), so signature computation is a narrow map.
    """
    # Explode shingle hashes and compute the 64 permutation-minima as one
    # grouped aggregation.  (An array-expression formulation — 64
    # array_min(transform(hx, ...)) projections — looks natural but
    # Catalyst's CollapseProject inlines the shared shingle+hash array into
    # every permutation, recomputing it 64x; the explode+agg shape hashes
    # each shingle once and gets map-side partial aggregation for free.)
    exploded = hashed_shingle_sets(df, text_col, id_col, shingle_k).select(
        id_col, F.explode("hset").alias("h")
    )
    return _signatures_from_exploded(exploded, id_col, num_hashes)


def _minhash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic affine-permutation coefficients (fixed public seeds):
    the single source of truth shared by the grouped-aggregation path and
    the narrow SQL-text path, so their signatures agree by construction."""
    a = [2 * i + 1 for i in range(num_hashes)]  # odd multipliers
    b = [(i * i + 7) % HASH_PRIME for i in range(num_hashes)]
    return a, b


def _rows_per_band(num_hashes: int, num_bands: int) -> int:
    """Validated ``num_hashes / num_bands``.  Silent misuse is expensive:
    ``num_bands > num_hashes`` floor-divides to 0 rows per band, every
    band key folds to the same constant, and the 'candidate' equi-join
    degenerates to the full O(n²) pair space LSH exists to avoid;
    a non-divisible split silently ignores the trailing signature
    positions, changing recall from what the parameters advertise."""
    if num_bands < 1 or num_hashes % num_bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must be a positive multiple of "
            f"num_bands={num_bands} (got rows_per_band="
            f"{num_hashes // num_bands if num_bands else 'inf'})"
        )
    return num_hashes // num_bands


def _band_keys_sql(
    num_hashes: int, num_bands: int, hset_col: str = "hset"
) -> str:
    """SQL text of ``array<bigint>`` band keys computed NARROWLY from a
    materialized hashed-shingle set — minimum of each affine permutation
    via ``array_min(transform(...))``, polynomial-folded per band.

    This is the zero-shuffle formulation of signatures+banding: when
    ``hset`` comes from a checkpointed/materialized relation the whole
    signature is a per-row map fused into the band shuffle's map stage,
    replacing the explode → groupBy(id) shuffle of every shingle hash
    (|docs| × |shingles| rows) with nothing at all.  (The grouped shape in
    ``_signatures_from_exploded`` remains for inputs that are NOT
    materialized, where Catalyst's CollapseProject would otherwise inline
    the shingle tokenizer once per permutation.)  Values are identical to
    the grouped path: same coefficients (``_minhash_coeffs``), same fold.
    Built as ONE parsed expression string — no per-element py4j chatter
    (see ``exprs.sql_doubles`` for the measured rationale).
    """
    rows_per_band = _rows_per_band(num_hashes, num_bands)
    a, b = _minhash_coeffs(num_hashes)

    def mh(i: int) -> str:
        return (
            f"array_min(transform({hset_col}, "
            f"h -> pmod(h * {a[i]}L + {b[i]}L, {HASH_PRIME}L)))"
        )

    bands = []
    for bi in range(num_bands):
        fold = "0L"
        for r in range(rows_per_band):
            # pre-reduce the accumulator before each multiply so the
            # step stays inside int64 under ANSI mode at ANY
            # rows_per_band: minima are < 2^31 (HASH_PRIME), so with
            # acc < FOLD_MOD (< 2^43, prime) the product + addend is
            # < 2^63.  For rows_per_band <= 2 the reduction is a no-op
            # (acc < 2^31 both steps) — persisted band keys and the
            # oracle twins' ratio-2 folds are bit-unchanged.
            fold = (
                f"(pmod({fold}, {FOLD_MOD}L) * 1000003L"
                f" + {mh(bi * rows_per_band + r)})"
            )
        bands.append(fold)
    return "array(" + ",".join(bands) + ")"


def _banded_from_sets(
    sets_df: DataFrame,
    id_col: str,
    num_hashes: int,
    num_bands: int,
) -> DataFrame:
    """(id, prior, band_id, band_hash) directly from hashed shingle sets —
    one narrow projection, no signature materialization, no shuffle.

    ``prior`` is the array of this row's band keys for all EARLIER bands
    (``slice(bkeys, 1, band_id)``): it rides the band shuffle so the pair
    join can keep each candidate pair only in its FIRST shared band (see
    ``_pairs_from_banded``), replacing the post-join ``.distinct()`` —
    whose shuffle volume is the per-bucket pair count × the number of
    matching bands, the term that explodes on duplicate-heavy corpora —
    with a map-side filter.  Average payload is num_bands/2 longs per row.
    """
    return (
        sets_df.select(
            F.col(id_col),
            F.expr(_band_keys_sql(num_hashes, num_bands)).alias("bkeys"),
        )
        .select(
            F.col(id_col),
            F.posexplode("bkeys").alias("band_id", "band_hash"),
            F.expr("slice(bkeys, 1, band_id)").alias("prior"),
        )
    )


def _cap_buckets(banded: DataFrame, max_bucket: int | None) -> DataFrame:
    """Drop every (band_id, band_hash) bucket whose occupancy exceeds
    ``max_bucket`` — the banding twin of the CDC family's >50-copy
    chunk-hash drop (operators/dedup.py::cdc chunking), sized for band
    buckets where occupancy counts DISTINCT contents (identical shingle
    sets are collapsed to one representative before banding).

    A bucket with B members emits ~B²/2 join rows; one boilerplate
    family with 10⁶ near-identical variants would otherwise emit ~10¹²
    pairs from a single bucket and kill the job.  Dropping the whole
    bucket (not truncating it) keeps the surviving candidate set
    unbiased; a dropped pair can still surface through any of its other
    bands that stay under the cap.  Quantify drops for a corpus with
    ``minhash_bucket_audit``.

    Implemented as an occupancy WINDOW, not a hot-set anti-join, after
    measuring both: the window partitions by exactly the pair-join's
    keys, so its exchange AND its sort are the ones the downstream
    SortMergeJoin needs anyway — near-zero marginal cost (sf0.1 headline
    ratio-to-control ~2.0 windowed vs ~3.0 for a broadcast-hot-set
    anti-join, which pays a second pass over the banded rows — or a
    localCheckpoint of them — plus the SMJ sort it cannot skip).
    """
    if max_bucket is None:
        return banded
    if max_bucket < 2:
        raise ValueError(f"max_bucket={max_bucket} must be >= 2 or None")
    w = Window.partitionBy("band_id", "band_hash")
    return (
        banded.withColumn("_occ", F.count(F.lit(1)).over(w))
        .filter(F.col("_occ") <= F.lit(max_bucket))
        .drop("_occ")
    )


def _pairs_from_banded(
    banded_l: DataFrame,
    banded_r: DataFrame,
    id_col: str,
    self_join: bool,
    max_bucket: int | None,
    cap_r: bool = True,
) -> DataFrame:
    """Candidate pairs from banded tables via the (band_id, band_hash)
    equi-join, unique WITHOUT a ``.distinct()``: a pair is kept only in
    its first shared band (``prior`` keys disagree everywhere earlier),
    so each candidate flows out of the join exactly once and the
    distinct's shuffle of every per-band duplicate — B²/2 rows per
    bucket × matching bands — never happens.

    Buckets above ``max_bucket`` occupancy are dropped (audited hazard
    guard, see ``_cap_buckets``).  The two guards compose conservatively:
    a pair whose FIRST shared band sits in a dropped bucket is dropped
    even if a later shared band survives — near-identical flood members
    share most bands, so their buckets are hot together; the marginal
    extra loss is part of the audited recall trade, and the composition
    never duplicates or fabricates a pair.

    For a self-join both sides are the SAME capped plan, so Spark reuses
    one Exchange (the banded table shuffles once, shared by the
    occupancy window and both join sides).

    ``cap_r=False`` means the right side arrives PRE-capped (the
    persisted gate's materialized-occupancy path: a window over an
    index-sized relation per probe is exactly what the fold-time
    ``_occ`` column exists to avoid) — the occupancy semantics are the
    caller's responsibility there, equality-pinned against this
    window."""
    banded_l = _cap_buckets(banded_l, max_bucket)
    banded_r = (
        banded_l
        if self_join
        else (_cap_buckets(banded_r, max_bucket) if cap_r else banded_r)
    )
    on = [
        F.col("l.band_id") == F.col("r.band_id"),
        F.col("l.band_hash") == F.col("r.band_hash"),
    ]
    if self_join:
        on.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    first_shared_band = F.expr(
        "NOT exists(zip_with(l.prior, r.prior, (x, y) -> x = y), v -> v)"
    )
    return (
        banded_l.alias("l")
        .join(banded_r.alias("r"), on=on)
        .where(first_shared_band)
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
    )


def _content_key(arr: Column, ordered: bool = False) -> Column:
    """128-bit content key of a bigint array: a struct of two
    differently-salted xxhash64 values over the canonical form (sorted
    for SETS, as-is for ordered arrays like signatures).  128 bits on
    purpose (r9 review): a 64-bit key merges two genuinely DIFFERENT
    documents at ~n²/2⁶⁵ odds — ~10⁴ false groups at the brief's
    10¹²-doc posture, each emitting fabricated jaccard-1.0 pairs that
    bypass the exact-verify stage; the salted pair pushes that to
    ~n²/2¹²⁹.  The two-xxhash64 struct is the ``duplicate_spans``
    hash_bits=128 convention, chosen over md5-of-joined-string (the
    first cut): no per-row string materialization of the whole set
    (tens of KB at web-page shingle counts) and a 16-byte native
    shuffle key instead of a 32-char string."""
    canon = arr if ordered else F.array_sort(arr)
    return F.struct(
        F.xxhash64(canon).alias("h1"),
        F.xxhash64(F.lit(1), canon).alias("h2"),
    )


def _min_rep_collapse(slim: DataFrame, id_col: str) -> DataFrame:
    """(id, _ckey, _rep) with the min-id representative per STORED
    content key — the ONE collapse body shared by the collector write
    path, the maintenance fold, and the legacy probe (the r9
    ``_collapse_identical`` lesson: inline copies of exactly this shape
    drifted once already).  NULL content keys — rows from a pre-_ckey
    index layout surfacing through a mergeSchema read — are coalesced
    to a per-row synthetic key, so each such row is its OWN
    representative: never collapsed into one bogus NULL group, never
    dropped by the null-unsafe equi-join (either failure silently
    un-gates every pre-upgrade document)."""
    keyed = slim.select(
        F.col(id_col),
        F.coalesce(
            F.col("_ckey"),
            F.struct(
                F.xxhash64(F.lit("null-ckey"), F.col(id_col)).alias("h1"),
                F.xxhash64(F.lit(3), F.col(id_col)).alias("h2"),
            ),
        ).alias("_ckey"),
    )
    reps = keyed.groupBy("_ckey").agg(F.min(id_col).alias("_rep"))
    return keyed.join(reps, "_ckey").select(
        F.col(id_col), F.col("_ckey"), F.col("_rep")
    )


def _collapse_identical(
    df: DataFrame, id_col: str, key: Column
) -> tuple[DataFrame, DataFrame]:
    """Collapse rows with identical content (``key``) to one
    representative — the shared guard core for the shingle-set AND
    signature paths (r9 review: the signature path had drifted into an
    inline copy).

    Returns ``(membership, rep_rows)``: ``membership`` maps every id to
    its group representative (min id among identical-content rows);
    ``rep_rows`` is ``df`` restricted to representatives (all columns).
    This is the first hot-bucket guard: a page duplicated 10⁶ times
    verbatim — routine at web-crawl scale — bands as ONE row instead of
    10⁶ rows sharing every bucket, so exact-duplicate floods never reach
    the pair join at all.  The content key is computed narrowly (no
    payload shuffle: reps aggregate (ckey, id) pairs only; the payload
    moves once, keyed by id, to build rep_rows — the same keying the
    verify join needs anyway).
    """
    slim = df.select(F.col(id_col), key.alias("_ckey"))
    reps = slim.groupBy("_ckey").agg(F.min(id_col).alias("_rep"))
    membership = slim.join(reps, "_ckey").select(F.col(id_col), F.col("_rep"))
    rep_rows = df.join(reps.select(F.col("_rep").alias(id_col)), id_col)
    return membership, rep_rows


def _collapse_identical_sets(
    sets_df: DataFrame, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """``_collapse_identical`` keyed on the sorted hashed shingle set."""
    membership, rep_rows = _collapse_identical(
        sets_df, id_col, _content_key(F.col("hset"))
    )
    return membership, rep_rows.select(F.col(id_col), F.col("hset"))


def _signatures_from_exploded(
    exploded: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    a, b = _minhash_coeffs(num_hashes)
    aggs = [
        F.min(
            F.pmod(F.col("h") * F.lit(a[i]) + F.lit(b[i]), F.lit(HASH_PRIME))
        ).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    grouped = exploded.groupBy(id_col).agg(*aggs)
    sig = F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
    return grouped.select(F.col(id_col), sig.alias("signature"))


def _banded(
    sig_df: DataFrame, id_col: str, num_hashes: int, num_bands: int
) -> DataFrame:
    """(id, prior, band_id, band_hash) rows: each band's signature slice
    folded to one numeric key (polynomial fold — no string building);
    ``prior`` carries the earlier bands' keys for first-shared-band pair
    dedup (see ``_banded_from_sets``)."""
    rows_per_band = _rows_per_band(num_hashes, num_bands)
    bkeys = F.array(
        *[
            F.aggregate(
                F.slice("signature", bi * rows_per_band + 1, rows_per_band),
                F.lit(0).cast("long"),
                # pmod pre-reduction: int64-safe under ANSI at any
                # rows_per_band, bit-identical to the plain fold for
                # rows_per_band <= 2 (see _band_keys_sql / FOLD_MOD)
                lambda acc, x: F.pmod(acc, F.lit(FOLD_MOD))
                * F.lit(1000003)
                + x,
            )
            for bi in range(num_bands)
        ]
    )
    return sig_df.select(F.col(id_col), bkeys.alias("bkeys")).select(
        F.col(id_col),
        F.posexplode("bkeys").alias("band_id", "band_hash"),
        F.expr("slice(bkeys, 1, band_id)").alias("prior"),
    )


def _expand_group_pairs(
    rep_pairs: DataFrame,
    membership: DataFrame,
    id_col: str,
    extra_cols: list[str],
) -> DataFrame:
    """Expand representative-level pairs back to member-level pairs.

    Each rep pair (id_a, id_b) fans out to every (member of id_a's group)
    × (member of id_b's group) combination — pure row generation through
    two equi-joins on the (id → rep) membership table, never a shuffle of
    the pair space.  Member ids from the two (disjoint) groups can
    interleave, so the output pair is re-oriented least/greatest; values
    in ``extra_cols`` (e.g. jaccard) hold for every member combination
    because group members have byte-identical shingle sets."""
    ma = membership.select(
        F.col("_rep").alias("id_a"), F.col(id_col).alias("_ma")
    )
    mb = membership.select(
        F.col("_rep").alias("id_b"), F.col(id_col).alias("_mb")
    )
    return (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            *extra_cols,
        )
    )


def _intra_group_pairs(
    membership: DataFrame, id_col: str, identical_edges: str
) -> DataFrame:
    """Pairs WITHIN an identical-content group.

    ``identical_edges="all"``: every pair (the classic pair-list output —
    inherently quadratic in group size, generated by one equi-join on the
    group key, no banding involved).  ``"star"``: only (rep, member)
    edges — linear, and connected-components-equivalent, so the cluster/
    pipeline consumers use it; a 10⁶-copy page contributes 10⁶−1 edges
    instead of ~5×10¹¹.
    """
    if identical_edges == "star":
        return membership.filter(F.col(id_col) != F.col("_rep")).select(
            F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b")
        )
    left = membership.select(
        F.col("_rep").alias("_g"), F.col(id_col).alias("id_a")
    )
    right = membership.select(
        F.col("_rep").alias("_g"), F.col(id_col).alias("id_b")
    )
    return (
        left.join(right, "_g")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def _check_identical_edges(identical_edges: str) -> None:
    if identical_edges not in ("all", "star"):
        raise ValueError(
            f"identical_edges must be 'all' or 'star', got {identical_edges!r}"
        )


def minhash_candidates(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 16,
    max_bucket: int | None = 4096,
    identical_edges: str = "all",
) -> DataFrame:
    """LSH banding: split signatures into bands, equi-join on band hash.

    Returns candidate pairs (id_a < id_b).  The join is an equi-join on
    (band_id, band_hash) — Catalyst plans a shuffle hash join keyed on the
    band, so the pair space never materializes.  Band keys are a numeric
    polynomial fold of the band's signature slice (no string building —
    keeps the generated code small and the per-row cost a few multiplies).

    Hot-bucket guards (see ``_collapse_identical_sets``/``_cap_buckets``):
    exact-identical signatures collapse to one representative before
    banding (their pairs are regenerated outside the join — identical
    signatures are candidates by definition), and buckets with more than
    ``max_bucket`` DISTINCT signatures are dropped with the loss auditable
    via ``minhash_bucket_audit``.  ``identical_edges="star"`` returns the
    linear (rep, member) form of the identical-group pairs for
    connected-components consumers.
    """
    _check_identical_edges(identical_edges)
    _rows_per_band(num_hashes, num_bands)  # fail fast, before any analysis
    membership, rep_rows = _collapse_identical(
        sig_df.select(F.col(id_col), F.col("signature")),
        id_col,
        _content_key(F.col("signature"), ordered=True),
    )
    banded = _banded(rep_rows, id_col, num_hashes, num_bands)
    rep_pairs = _pairs_from_banded(
        banded, banded, id_col, self_join=True, max_bucket=max_bucket
    )
    # star: rep-level pairs stand for their groups (each group is already
    # connected by its star edges) — cross-group output stays LINEAR too
    inter = (
        rep_pairs
        if identical_edges == "star"
        else _expand_group_pairs(rep_pairs, membership, id_col, [])
    )
    intra = _intra_group_pairs(membership, id_col, identical_edges)
    return inter.unionByName(intra)


def jaccard_pairs(
    df: DataFrame,
    pairs_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (verification step)."""
    sets_df = df.select(
        F.col(id_col).alias("sid"),
        F.array_distinct(shingles(text_col, shingle_k)).alias("sset"),
    )
    a = sets_df.alias("a")
    b = sets_df.alias("b")
    joined = (
        pairs_df.join(a, pairs_df["id_a"] == F.col("a.sid"))
        .join(b, pairs_df["id_b"] == F.col("b.sid"))
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("a.sset", "b.sset")).alias("inter"),
            F.size(F.array_union("a.sset", "b.sset")).alias("uni"),
        )
    )
    return joined.select(
        "id_a",
        "id_b",
        F.round(
            F.col("inter") / F.greatest(F.col("uni").cast("double"), F.lit(1.0)), 4
        ).alias("jaccard"),
    )


def jaccard_pairs_hashed(
    sets_df: DataFrame,
    pairs_df: DataFrame,
    id_col: str = "doc_id",
    sets_b: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over hashed shingle sets for candidate pairs.

    Identical value to string-set Jaccard modulo (rare) 31-bit hash
    collisions; the bigint array_intersect/union is far cheaper than string
    comparison, which matters because verification touches every candidate.

    ``sets_b``: optional separate relation for the id_b side (r9 review:
    the incremental gates have disjoint sides, and unioning both into one
    relation made the id_a join scan the whole — at deployment scale,
    corpus-sized — index sets for zero possible matches).

    The returned jaccard is 4dp-ROUNDED, and downstream threshold
    filters deliberately apply to the rounded value: the boundary is
    defined at 4dp on BOTH engines (the cross-engine oracle rounding
    convention), so a pair whose exact ratio sits within 5e-5 below the
    threshold rounds up and passes — by design, identically here and in
    the DuckDB replay.  Consumers needing an exact-cut contract should
    re-filter on their own recomputation.
    """
    a = sets_df.select(
        F.col(id_col).alias("id_a"), F.col("hset").alias("set_a")
    )
    b = (sets_df if sets_b is None else sets_b).select(
        F.col(id_col).alias("id_b"), F.col("hset").alias("set_b")
    )
    joined = (
        pairs_df.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("inter"),
            F.size(F.array_union("set_a", "set_b")).alias("uni"),
        )
    )
    return joined.select(
        "id_a",
        "id_b",
        F.round(
            F.col("inter") / F.greatest(F.col("uni").cast("double"), F.lit(1.0)), 4
        ).alias("jaccard"),
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 32,
    num_bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int | None = 4096,
    identical_edges: str = "all",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Full near-dup pipeline: MinHash → LSH candidates → exact verify.

    Hot-bucket posture (the web-crawl mega-duplicate hazard): exact-
    identical shingle sets collapse to ONE representative before banding
    (``_collapse_identical_sets``), candidate pairs leave the band join
    exactly once via the first-shared-band filter (no ``.distinct()``
    over per-band duplicates), and buckets holding more than
    ``max_bucket`` DISTINCT contents are dropped with the loss auditable
    via ``minhash_bucket_audit``.  Verification runs at representative
    level, then pairs fan back out to members — identical sets share the
    exact jaccard by construction.  ``identical_edges="star"`` keeps the
    output LINEAR in both directions: within a group, (rep, member) star
    edges instead of the quadratic pair list; ACROSS groups, one
    (rep_a, rep_b) edge instead of the |A|×|B| member block (two
    near-identical mega-groups would otherwise re-create the quadratic
    blowup the banding guards removed).  Connected-components-equivalent
    either way (test-pinned) — star is the only sane shape once groups
    reach ~10⁶ members; the default "all" preserves the classic
    pair-list semantics for corpora where groups are small.
    """
    _check_identical_edges(identical_edges)
    # localCheckpoint (not persist): the shingle base feeds the content-key
    # branch AND the rep-sets build — checkpointing computes the expensive
    # tokenize+hash once and shares the materialized blocks across branches
    # within this query, without registering in the cross-query cache
    # (persist would canonically match an identical later plan and silently
    # serve it from cache).  The intermediate is (id, array<bigint>) — tiny
    # relative to the input text.  On a real cluster localCheckpoint blocks
    # live on executors (MEMORY_AND_DISK); recompute-on-executor-loss is
    # acceptable for a deterministic batch pipeline.  rep_sets itself is
    # NOT checkpointed: its three consumers (banding + both verify sides)
    # share identical subtrees, so Spark's ReusedExchange already computes
    # it once (measured convention: checkpointing an already-reusable
    # subplan costs ~25%).
    sets_df = hashed_shingle_sets(
        df, text_col, id_col, shingle_k, hash_fn
    ).localCheckpoint(eager=False)
    membership, rep_sets = _collapse_identical_sets(sets_df, id_col)
    # Banding is computed NARROWLY over the rep sets (see _band_keys_sql):
    # the signature never materializes and the only shuffles left in
    # candidate generation are the band equi-join's — one Exchange, reused
    # by the occupancy window and both self-join sides.
    banded = _banded_from_sets(rep_sets, id_col, num_hashes, num_bands)
    cands = _pairs_from_banded(
        banded, banded, id_col, self_join=True, max_bucket=max_bucket
    )
    verified = jaccard_pairs_hashed(rep_sets, cands, id_col).filter(
        F.col("jaccard") >= threshold
    )
    # star: a single verified (rep_a, rep_b) edge stands for the whole
    # group×group pair block — each group is already connected by its
    # star edges, so components are identical (test-pinned) and the
    # cross-group output stays LINEAR (r9 review: expanding members here
    # would re-create the quadratic blowup for two near-identical — not
    # byte-identical — mega-groups, e.g. 10⁶ copies of page A × 10⁶
    # copies of a one-token variant B)
    inter = (
        verified
        if identical_edges == "star"
        else _expand_group_pairs(verified, membership, id_col, ["jaccard"])
    )
    intra = _intra_group_pairs(membership, id_col, identical_edges).select(
        "id_a", "id_b", F.lit(1.0).alias("jaccard")
    )
    if threshold > 1.0:  # degenerate, but keep the contract exact
        intra = intra.filter(F.lit(False))
    return inter.unionByName(intra).orderBy("id_a", "id_b")


def _incremental_gate(
    new_df: DataFrame,
    banded_idx: DataFrame,
    idx_rep_sets: DataFrame,
    m_idx: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    num_hashes: int,
    num_bands: int,
    shingle_k: int,
    max_bucket: int | None,
    hash_fn: str = "xxhash64",
    idx_precapped: bool = False,
) -> DataFrame:
    """The shared gate core (r9 review: the in-memory and persisted
    gates had drifted into copies): NEW documents collapsed, banded and
    equi-joined against an index-side REPRESENTATIVE band relation, the
    candidates exact-verified against the two sides' own sets relations,
    both sides fanned back out through their memberships.  The index
    side arrives pre-collapsed (``banded_idx``/``idx_rep_sets`` hold
    representatives only — or a superset keyed so only representatives
    can be candidate partners, ``m_idx`` maps every index id to its
    rep), so occupancy caps count DISTINCT contents on both sides
    regardless of where the index came from.  ``idx_precapped`` skips
    the index-side occupancy window (the materialized-``_occ`` probe
    path).  ``hash_fn`` MUST match the hash the index side was shingled
    with (band keys from different hash families would silently never
    match)."""
    new_sets = hashed_shingle_sets(
        new_df, text_col, id_col, shingle_k, hash_fn
    ).localCheckpoint(eager=False)
    m_new, rep_new = _collapse_identical_sets(new_sets, id_col)
    banded_new = _banded_from_sets(rep_new, id_col, num_hashes, num_bands)
    cands = _pairs_from_banded(
        banded_new, banded_idx, id_col, self_join=False,
        max_bucket=max_bucket, cap_r=not idx_precapped,
    )
    verified = jaccard_pairs_hashed(
        rep_new, cands, id_col, sets_b=idx_rep_sets
    ).filter(F.col("jaccard") >= threshold)
    # sides are fixed (id_a = new, id_b = index): expand each side through
    # its own membership, no least/greatest reorientation
    ma = m_new.select(F.col("_rep").alias("id_a"), F.col(id_col).alias("_ma"))
    mb = m_idx.select(F.col("_rep").alias("id_b"), F.col(id_col).alias("_mb"))
    return (
        verified.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.col("_ma").alias("id_a"),
            F.col("_mb").alias("id_b"),
            "jaccard",
        )
        .orderBy("id_a", "id_b")
    )


def minhash_near_duplicates_incremental(
    new_df: DataFrame,
    index_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 32,
    num_bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int | None = 4096,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Ingestion-time near-dup gate: NEW documents banded against an
    INDEXED corpus (ids must be disjoint) — the incremental form of
    ``minhash_near_duplicates``; ``minhash_incremental_persisted`` is
    its deployment shape over a stored band index.

    Returns (id_a=new, id_b=index, jaccard >= threshold), exact-verified
    on the hashed shingle sets like the batch operator.  Both sides
    collapse exact-identical contents to a representative and cap bucket
    occupancy independently (a new doc identical to an indexed one still
    pairs: identical sets share every band key, so the rep pair survives
    banding and the member fan-out restores every combination).
    ``hash_fn`` — see ``_shingle_hash``; ``"md5"`` is the closed form
    the cross-engine oracle (minhash_gate_md5) replays.
    """
    idx_sets = hashed_shingle_sets(
        index_df, text_col, id_col, shingle_k, hash_fn
    ).localCheckpoint(eager=False)
    m_idx, rep_idx = _collapse_identical_sets(idx_sets, id_col)
    banded_idx = _banded_from_sets(rep_idx, id_col, num_hashes, num_bands)
    return _incremental_gate(
        new_df, banded_idx, rep_idx, m_idx,
        text_col, id_col, threshold, num_hashes, num_bands, shingle_k,
        max_bucket, hash_fn,
    )


def minhash_bucket_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int | None = 4096,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-band occupancy audit for the LSH banding hot-bucket guard.

    One row per band: bucket count, max/mean occupancy (occupancy counts
    DISTINCT contents — the same post-collapse view the pair join sees),
    and how many buckets/rows ``max_bucket`` would drop.  This is the
    'audited drop count' companion to ``_cap_buckets``: run it on a new
    corpus before a dedup campaign to see whether the cap binds and how
    much recall budget the drops represent.  ``hash_fn`` — see
    ``_shingle_hash``; ``"md5"`` backs the cross-engine oracle twin
    (minhash_bucket_audit_md5) that certifies the occupancy/drop
    arithmetic itself."""
    # checkpoint: the shingle base feeds both the content-key branch and
    # the rep-sets join (the minhash_near_duplicates convention) — without
    # it the tokenize+hash runs once per branch
    sets_df = hashed_shingle_sets(
        df, text_col, id_col, shingle_k, hash_fn
    ).localCheckpoint(eager=False)
    _, rep_sets = _collapse_identical_sets(sets_df, id_col)
    banded = _banded_from_sets(rep_sets, id_col, num_hashes, num_bands)
    occ = banded.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("occ")
    )
    hot = (
        F.col("occ") > F.lit(max_bucket)
        if max_bucket is not None
        else F.lit(False)
    )
    dropped_b = F.sum(hot.cast("long"))
    dropped_r = F.sum(F.when(hot, F.col("occ")).otherwise(F.lit(0)))
    return (
        occ.groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("occ").alias("max_occupancy"),
            F.round(F.avg("occ"), 4).alias("mean_occupancy"),
            dropped_b.alias("n_dropped_buckets"),
            dropped_r.cast("long").alias("n_dropped_rows"),
        )
        .orderBy("band_id")
    )


def _stored_band_params(spark, band_paths):
    """((num_hashes, num_bands, hash_fn) | None, band DataFrame) for a
    persisted band relation (params None when it holds no rows) — the
    ONE parameter reader shared by the collector's write-time drift
    check and the probe's mismatch refusal, so the two validations
    cannot drift apart; the DataFrame rides along so the probe reuses
    the single mergeSchema read instead of listing/merging the band
    footers twice per gate invocation.  mergeSchema is load-bearing: a pre-hash_fn index EXTENDED
    by post-upgrade batches mixes band schemas, and without it Spark
    infers from one arbitrary file — picking an old file silently drops
    the hash_fn column (an md5-tagged batch would probe as 'xxhash64').
    The merged schema always surfaces the column; a NULL value (or a
    wholly pre-upgrade relation without the column) means pre-upgrade
    and therefore xxhash64 by construction.  One-row sample: sound
    because the write-time check enforces one parameter set per
    dataset by induction."""
    banded = read_parquet_cached(spark, *band_paths, merge_schema=True)
    has_hf = "hash_fn" in banded.columns
    cols = ["num_hashes", "num_bands"] + (["hash_fn"] if has_hf else [])
    row = banded.select(*cols).first()
    if row is None:
        return None, banded
    hf = (row["hash_fn"] if has_hf else None) or "xxhash64"
    return (row["num_hashes"], row["num_bands"], hf), banded


def minhash_index_collector(
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 16,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
):
    """foreachBatch hook for an INCREMENTALLY MAINTAINED near-dup gate
    index — the dedup member of the collector family (histograms /
    postings / lm_counts; minhash was the one family whose deployment
    shape still re-signatured the corpus per gate).
    Each micro-batch of newly ingested documents lands TWO relations as
    ONE atomic batch directory (``batch-<id>/bands`` + ``batch-<id>/
    sets``) under the shared commit protocol (operators/atomic.py):

    - ``bands``: (id, band_id, band_hash, prior, num_hashes, num_bands)
      — the banded rows the candidate equi-join probes, with the
      earlier-band keys (``prior``) stored so the first-shared-band pair
      dedup works against the index exactly as in-memory, and the
      banding parameters carried per row (the bloom m/k/scheme
      convention — RLE-compressed to nothing by parquet) so a probe
      with MISMATCHED parameters fails loudly instead of silently
      matching almost no band keys (r9 review);
    - ``sets``: (id, hset, _ckey) — the hashed shingle sets the
      exact-Jaccard verify touches only for candidate representative
      ids, plus the 128-bit content key (r9 review: without a stored
      key, cross-batch duplicate contents would band uncollapsed and the
      occupancy cap would count copies instead of distinct contents,
      silently dropping a flooded page's buckets exactly where the
      in-memory gate keeps them);
    - ``collapse``: (id, _ckey, _rep, _global=false) — the identical-
      content membership relation, batch-LOCAL at write time
      (``_rep`` = min id within the batch's own rows) and rewritten to
      the GLOBAL collapse by ``minhash_fold`` (``_global=true``), so a
      probe never re-aggregates the whole index per gate call (r9
      verdict: the per-probe index-wide ``groupBy(_ckey)`` was the
      gate's scale ceiling at the reference's 15 s shipper cadence);
      the probe reconciles only the DELTA — batches committed since the
      last fold — plus tombstone-touched groups, both O(delta).

    Three parts in one commit because a batch whose bands landed without
    its sets would emit candidates that can never verify (silently
    dropped pairs) — the torn state the whole-batch commit exists to
    prevent.  Ids must be append-only across batches (the postings
    contract).  Replay of a committed batch id writes nothing.
    Compacts with ``minhash_fold`` (the collapse-materializing fold);
    a generic ``compact_batches(parts=("collapse", "bands", "sets"))``
    also stays correct — the probe treats un-rewritten rows as delta.

    Parameter drift is refused at WRITE time: before a new batch lands,
    the hook probes the existing index's stored (num_hashes, num_bands,
    hash_fn) and raises on mismatch — so every committed batch shares
    one parameter set by induction, which is what makes the probe
    side's one-row parameter sample sound (a read-time scan of every
    row would be a full-index shuffle per probe; a write-time check is
    one bounded read per NEW batch, and replays skip it entirely)."""
    from paas_auditor_spark.operators.atomic import (
        batch_data_paths,
        commit_batch_dir,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        def write(tmp: str) -> None:
            try:
                band_paths = batch_data_paths(path, "bands")
            except ValueError:
                band_paths = None  # first batch: nothing to agree with
            if band_paths:
                stored, _banded = _stored_band_params(
                    batch_df.sparkSession, band_paths
                )
                if stored is not None and stored != (
                    num_hashes, num_bands, hash_fn
                ):
                    raise ValueError(
                        f"index at {path!r} holds batches built with "
                        f"num_hashes={stored[0]}/num_bands={stored[1]}/"
                        f"hash_fn={stored[2]!r} but this collector "
                        f"writes {num_hashes}/{num_bands}/{hash_fn!r} — "
                        "mixed parameters would silently never match at "
                        "probe time; rebuild the index or fix the "
                        "hook's parameters"
                    )
            sets_df = (
                hashed_shingle_sets(
                    batch_df, text_col, id_col, shingle_k, hash_fn
                )
                .withColumn("_ckey", _content_key(F.col("hset")))
                # tokenize+hash+key ONCE, 3 writes (the _ckey rides the
                # checkpoint so the salted double-xxhash64 over every
                # shingle set is not paid twice per batch)
                .localCheckpoint(eager=False)
            )
            sets_df.select(
                F.col(id_col), F.col("hset"), F.col("_ckey")
            ).write.parquet(f"{tmp}/sets")
            # batch-LOCAL collapse: one batch-sized groupBy at WRITE
            # time (amortized over ingestion) so the probe never pays it
            (
                _min_rep_collapse(
                    sets_df.select(F.col(id_col), F.col("_ckey")), id_col
                )
                .withColumn("_global", F.lit(False))
                .write.parquet(f"{tmp}/collapse")
            )
            (
                _banded_from_sets(sets_df, id_col, num_hashes, num_bands)
                .withColumn("num_hashes", F.lit(num_hashes))
                .withColumn("num_bands", F.lit(num_bands))
                .withColumn("hash_fn", F.lit(hash_fn))
                .write.parquet(f"{tmp}/bands")
            )

        commit_batch_dir(path, batch_id, write)

    return write_batch


def minhash_fold(
    spark,
    path: str,
    id_col: str = "doc_id",
    tombstone_path: str | None = None,
    target_files: int = 1,
) -> int:
    """The MinHash gate index's maintenance fold: generic compaction
    PLUS materialization of the probe's two global artifacts (r9
    verdict task #1 — the per-probe index-wide ``groupBy(_ckey)`` was
    the gate's scale ceiling at the reference's 15 s shipper cadence,
    ``pkg/shippers/cf_audit_events_to_splunk_shipper.go:104``):

    - ``collapse``: ``_rep`` rewritten from batch-local to the GLOBAL
      min id per content key and ``_global`` set true — the probe reads
      membership instead of re-aggregating it;
    - ``bands``: ``_is_rep`` (this row's id is its group's global rep —
      the probe's representative restriction becomes a parquet FILTER,
      not a join) and ``_occ`` (the bucket's representative occupancy —
      the probe's hot-bucket cap becomes a per-row comparison, not an
      index-wide window).

    ``tombstone_path`` additionally drops doomed rows physically (an
    anti-join against ``tombstone_ids``) BEFORE the collapse, so
    representation shifts to surviving members on disk.  Correctness
    never depends on this fold having run: un-rewritten rows (new
    batches, rescued batches) read as DELTA and the probe reconciles
    them in O(delta) — the fold only moves work from every probe to
    one maintenance job.  Single-writer contract as ``compact_batches``.
    Returns the number of batch dirs folded."""
    from paas_auditor_spark.operators.atomic import (
        anti_join_tombstones,
        compact_batches,
        tombstone_ids,
    )

    dead = None
    if tombstone_path is not None:
        dead = tombstone_ids(spark, tombstone_path)
    state: dict[str, DataFrame] = {}

    def tf(part: str, df: DataFrame) -> DataFrame:
        df = anti_join_tombstones(df, dead, id_col)
        if part == "collapse":
            out = (
                _min_rep_collapse(
                    df.select(F.col(id_col), F.col("_ckey")), id_col
                )
                .withColumn("_global", F.lit(True))
                .localCheckpoint(eager=False)  # collapse write + bands flag
            )
            state["rep_ids"] = out.filter(
                F.col(id_col) == F.col("_rep")
            ).select(id_col)
            return out
        if part == "bands":
            rep_ids = state.get("rep_ids")
            if rep_ids is None:
                raise ValueError(
                    "minhash_fold: parts must fold 'collapse' before "
                    "'bands' (the band flags derive from the collapse)"
                )
            # drop any prior fold's columns before re-deriving: a
            # re-fold over gen-N's batch-0 plus raw later batches sees
            # both shapes through the mergeSchema read
            df = df.drop("_is_rep", "_occ")
            flagged = (
                df.join(rep_ids.withColumn("_r", F.lit(True)), id_col, "left")
                .withColumn("_is_rep", F.coalesce(F.col("_r"), F.lit(False)))
                .drop("_r")
            )
            occ = (
                flagged.filter(F.col("_is_rep"))
                .groupBy("band_id", "band_hash")
                .agg(F.count(F.lit(1)).alias("_bocc"))
            )
            return (
                flagged.join(occ, ["band_id", "band_hash"], "left")
                .withColumn("_occ", F.coalesce(F.col("_bocc"), F.lit(0)))
                .drop("_bocc")
            )
        return df  # sets: tombstone drop only

    return compact_batches(
        spark,
        path,
        parts=("collapse", "bands", "sets"),
        target_files=target_files,
        transform=tf,
    )


def minhash_incremental_persisted(
    spark,
    index_path: str,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 32,
    num_bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int | None = 4096,
    tombstone_path: str | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Ingestion-time near-dup gate against a PERSISTED band index —
    the deployment shape of ``minhash_near_duplicates_incremental``:
    the corpus is never re-shingled at gate time, and after a
    ``minhash_fold`` it is never re-AGGREGATED either (r9 verdict: the
    per-probe global collapse rebuild was an index-sized shuffle per
    gate call at the reference's 15 s shipper cadence).  The fold
    materializes the global collapse (``collapse._rep``/``_global``)
    and the band-side representative flag + bucket occupancy
    (``bands._is_rep``/``_occ``); the probe then reconciles only the
    DELTA — batches committed since the last fold, plus tombstone-
    touched groups — in O(delta) work: delta-keyed aggregations,
    broadcast-pruned scans of the folded relations, and per-row filter
    columns where the legacy path paid a global groupBy and an
    index-wide occupancy window.  Pre-collapse-layout indexes (no
    ``collapse`` part) keep the legacy full-rebuild path.  Stored
    banding parameters are validated against the arguments (mismatch
    raises instead of silently matching no band keys).  An index with
    no committed batches yet gates everything through (empty result —
    the streaming loop's normal first-batch state, not an error).
    Returns (id_a=new, id_b=index, jaccard ≥ threshold),
    value-identical to the in-memory incremental operator over the
    same corpus (equality test-pinned, including through replay,
    folding, and tombstones).

    ``tombstone_path`` (optional) points at a ``tombstones_collector``
    dataset of deleted index ids: tombstoned documents can neither
    appear as a gate partner nor remain a group representative — when
    the min-id member of an identical-content group is deleted,
    representation shifts to the surviving min id and the group keeps
    gating (the stored bands cover every id, so the new rep's band
    rows are already on disk; equality with an index built without
    the deleted docs is test-pinned).  No-deletes probes keep the
    anti-join out of the plan entirely.

    NOTE: over a folded index this function runs ONE small Spark job at
    plan-build time (an ``isEmpty`` over the collapse's ``_global``
    column — folded files prune to nothing via row-group stats) to
    decide whether the delta-reconciliation stages need building at
    all; construction is therefore not fully lazy (measured win on the
    no-delta probe: 12 s → 4.7 s warm).  Callers composing plans
    without executing them should expect that action."""
    import os

    from paas_auditor_spark.operators.atomic import (
        anti_join_tombstones,
        batch_data_paths,
        tombstone_ids,
    )

    if max_bucket is not None and max_bucket < 2:
        # one check at the public entry (reported BEFORE the plan-time
        # stats job runs), instead of copies buried in each probe shape
        raise ValueError(f"max_bucket={max_bucket} must be >= 2 or None")

    try:
        band_paths = batch_data_paths(index_path, "bands")
        set_paths = batch_data_paths(index_path, "sets")
    except ValueError:
        # bootstrap: nothing indexed yet → nothing can gate (the r9
        # review's first-batch case; the in-memory twin over an empty
        # index_df returns the same empty relation)
        return new_df.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        ).limit(0)
    stored, banded_idx = _stored_band_params(spark, band_paths)
    if stored is not None and stored != (num_hashes, num_bands, hash_fn):
        raise ValueError(
            f"index at {index_path!r} was built with num_hashes="
            f"{stored[0]}/num_bands={stored[1]}/hash_fn={stored[2]!r} "
            f"but the probe asked for {num_hashes}/{num_bands}/"
            f"{hash_fn!r} — band keys would silently never match; "
            "rebuild or re-parameterize"
        )
    banded_idx = banded_idx.drop("num_hashes", "num_bands", "hash_fn")
    # mergeSchema is load-bearing here exactly as on the bands read: a
    # pre-_ckey index extended by the current collector mixes layouts,
    # and a schema inferred from one arbitrary new file would read old
    # rows' _ckey as NULL — collapsing every pre-upgrade document into
    # one bogus NULL group and silently dropping them from the gate
    idx_sets = read_parquet_cached(spark, *set_paths, merge_schema=True)
    dead = None
    if tombstone_path is not None:
        doomed = tombstone_ids(spark, tombstone_path)
        if doomed is not None:
            # kept renamed (not anti_join_tombstones): this relation
            # feeds left_anti AND left_semi joins across both probe
            # shapes, all keyed by id_col
            dead = doomed.withColumnRenamed("id", id_col)

    collapse_paths = batch_data_paths(index_path, "collapse")
    if (
        all(os.path.isdir(p) for p in collapse_paths)
        # schema-only fold detector (zero cost): no bands file carries
        # _is_rep until the first minhash_fold.  A never-folded index
        # routes to the legacy global rebuild below — the same work the
        # all-delta reconciliation would degenerate to, WITHOUT
        # broadcast-hinting index-sized change sets (rep_added would be
        # every representative — a driver hazard at deployment scale;
        # fold cadence, not probe heroics, is the scale answer there)
        and "_is_rep" in banded_idx.columns
    ):
        return _gate_persisted_materialized(
            spark, collapse_paths, banded_idx, idx_sets, dead, new_df,
            text_col, id_col, threshold, num_hashes, num_bands,
            shingle_k, max_bucket, hash_fn,
        )

    # legacy layout (pre-collapse indexes, or a generic compaction that
    # folded only bands+sets): rebuild the GLOBAL collapse from the
    # stored content keys per probe — correct, but index-sized work
    banded_idx = banded_idx.drop("_is_rep", "_occ")
    if dead is not None:
        idx_sets = idx_sets.join(dead, id_col, "left_anti")
    collapsed = _min_rep_collapse(
        idx_sets.select(F.col(id_col), F.col("_ckey")), id_col
    )
    m_idx = collapsed.select(F.col(id_col), F.col("_rep"))
    rep_ids = collapsed.select(F.col("_rep").alias(id_col)).distinct()
    banded_idx_reps = banded_idx.join(rep_ids, id_col)
    idx_rep_sets = idx_sets.join(rep_ids, id_col).select(
        F.col(id_col), F.col("hset")
    )
    return _incremental_gate(
        new_df, banded_idx_reps, idx_rep_sets, m_idx,
        text_col, id_col, threshold, num_hashes, num_bands, shingle_k,
        max_bucket, hash_fn,
    )


def _gate_persisted_materialized(
    spark,
    collapse_paths: list[str],
    banded_idx: DataFrame,
    idx_sets: DataFrame,
    dead: DataFrame | None,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    num_hashes: int,
    num_bands: int,
    shingle_k: int,
    max_bucket: int | None,
    hash_fn: str,
) -> DataFrame:
    """The post-``minhash_fold`` probe: every index-wide computation the
    legacy path did per gate call is replaced by the fold's stored
    columns plus O(delta) reconciliation.

    Definitions: FOLDED rows carry ``_global=true`` (collapse) /
    non-NULL ``_is_rep``+``_occ`` (bands); everything else is DELTA
    (new batches since the fold, rescued batches — a never-folded
    index never reaches here: the dispatcher routes it to the legacy
    rebuild, which does the same work without broadcast-hinting
    index-sized change sets).  The reconciliation computes, all on
    delta/tombstone-sized relations:

    - the AFFECTED key set (delta keys ∪ keys of folded groups holding
      a tombstoned id);
    - per affected key, the new effective representative (min surviving
      id across folded members pruned by a broadcast key join and all
      delta members) vs the folded one → ``rep_added``/``rep_removed``
      id sets;
    - the effective representative band relation: folded ``_is_rep``
      rows minus removed plus added — ONE broadcast left join, a
      map-side filter over the band scan;
    - the occupancy cap: untouched buckets compare the stored ``_occ``
      per row; buckets touched by added/removed reps get an exact
      corrected total (stored base for those buckets via one broadcast-
      semi-pruned scan + the signed change count), replacing the
      index-wide occupancy window (equality with ``_cap_buckets``
      pinned by the in-memory-twin tests, cap-binding cases included).

    The verify side reads the FULL stored sets relation un-prefiltered:
    only effective representatives can appear as candidates, so joining
    candidates by id is value-identical to a rep-only relation and
    skips the index-wide rep semi-join the legacy path paid.
    Membership (fan-out) is the stored ``_rep`` with a broadcast
    override for affected keys — no aggregation."""
    # mergeSchema for symmetry with the bands read above: collapse
    # schemas are uniform today (the collector and the fold write the
    # same four columns), but a future fold-added collapse column must
    # not be silently dropped depending on which file Spark happens to
    # infer the schema from (r10 advice)
    collapse = read_parquet_cached(
        spark, *collapse_paths, merge_schema=True
    )
    folded = collapse.filter(F.col("_global"))
    delta = collapse.filter(~F.col("_global"))
    # one cheap plan-time action: reads only the _global column, and
    # folded files' row-group stats (all-true) prune to nothing — the
    # delta-dependent reconciliation stages are built only when a
    # delta exists (a probe runs per ingest tick; every skipped stage
    # is per-tick scheduling saved — measured 12 s → 4.7 s warm on the
    # tombstoned md5 certification slice, whose delta is empty)
    has_delta = not delta.isEmpty()
    if dead is None and not has_delta:
        # the common post-fold probe (no appends since maintenance, no
        # tombstones): the whole reconciliation is vacuous — skip its
        # stages entirely.  The probe plan is then: band filter on the
        # stored flags + occupancy comparison + stored membership — no
        # aggregation, no window, no extra joins.
        r_bands = banded_idx.filter(F.coalesce(F.col("_is_rep"), F.lit(False)))
        if max_bucket is not None:  # validated at the public entry
            r_bands = r_bands.filter(
                F.coalesce(F.col("_occ"), F.lit(0)) <= F.lit(max_bucket)
            )
        return _incremental_gate(
            new_df,
            r_bands.select(
                F.col(id_col), F.col("band_id"), F.col("band_hash"),
                F.col("prior"),
            ),
            idx_sets.select(F.col(id_col), F.col("hset")),
            folded.select(F.col(id_col), F.col("_rep")),
            text_col, id_col, threshold, num_hashes, num_bands,
            shingle_k, max_bucket, hash_fn,
            idx_precapped=True,
        )
    if has_delta:
        if dead is not None:
            delta = delta.join(dead, id_col, "left_anti")
        delta = delta.localCheckpoint(eager=False)  # keys+members+m_idx
        delta_keys = delta.select("_ckey").distinct()
    if dead is not None:
        doomed_keys = (
            folded.join(dead, id_col, "left_semi").select("_ckey").distinct()
        )
        k_aff = (
            delta_keys.unionByName(doomed_keys).distinct()
            if has_delta
            else doomed_keys
        )
    else:
        k_aff = delta_keys
    k_aff = k_aff.localCheckpoint(eager=False)

    # folded rows of affected keys only — broadcast-pruned scan
    folded_aff = folded.join(F.broadcast(k_aff), "_ckey").localCheckpoint(
        eager=False
    )
    old_reps = folded_aff.filter(F.col(id_col) == F.col("_rep")).select(
        "_ckey", F.col("_rep").alias("_old")
    )
    surv = folded_aff
    if dead is not None:
        surv = surv.join(dead, id_col, "left_anti")
    members_aff = surv.select("_ckey", F.col(id_col))
    if has_delta:
        members_aff = members_aff.unionByName(
            delta.select("_ckey", F.col(id_col))
        )
    new_reps = members_aff.groupBy("_ckey").agg(
        F.min(id_col).alias("_new")
    ).localCheckpoint(eager=False)
    chg = new_reps.join(old_reps, "_ckey", "full")
    rep_added = chg.filter(
        F.col("_new").isNotNull()
        & (F.col("_old").isNull() | (F.col("_new") != F.col("_old")))
    ).select(F.col("_new").alias(id_col))
    rep_removed = chg.filter(
        F.col("_old").isNotNull()
        & (F.col("_new").isNull() | (F.col("_new") != F.col("_old")))
    ).select(F.col("_old").alias(id_col))
    changes = (
        rep_added.withColumn("_chg", F.lit(1))
        .unionByName(rep_removed.withColumn("_chg", F.lit(-1)))
        .localCheckpoint(eager=False)  # R + occupancy corrections
    )

    # effective representative band rows: one broadcast left join
    bands_flagged = banded_idx.join(F.broadcast(changes), id_col, "left")
    is_rep_now = F.when(
        F.col("_chg").isNotNull(), F.col("_chg") == 1
    ).otherwise(F.coalesce(F.col("_is_rep"), F.lit(False)))
    r_bands = bands_flagged.filter(is_rep_now)

    if max_bucket is not None:  # validated at the public entry
        # exact corrected occupancy for buckets touched by rep changes
        chg_rows = banded_idx.join(F.broadcast(changes), id_col)
        docc = chg_rows.groupBy("band_id", "band_hash").agg(
            F.sum("_chg").alias("_docc")
        ).localCheckpoint(eager=False)
        base = (
            banded_idx.join(
                F.broadcast(docc.select("band_id", "band_hash")),
                ["band_id", "band_hash"],
                "left_semi",
            )
            .filter(F.coalesce(F.col("_is_rep"), F.lit(False)))
            .groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("_base"))
        )
        verdict = docc.join(base, ["band_id", "band_hash"], "left").select(
            "band_id",
            "band_hash",
            (
                (F.coalesce(F.col("_base"), F.lit(0)) + F.col("_docc"))
                <= F.lit(max_bucket)
            ).alias("_ok"),
        )
        r_bands = r_bands.join(
            F.broadcast(verdict), ["band_id", "band_hash"], "left"
        ).filter(
            F.when(F.col("_ok").isNotNull(), F.col("_ok")).otherwise(
                F.coalesce(F.col("_occ"), F.lit(0)) <= F.lit(max_bucket)
            )
        )
    r_bands = r_bands.select(
        F.col(id_col), F.col("band_id"), F.col("band_hash"), F.col("prior")
    )

    # membership: stored _rep, overridden for affected keys — no agg
    m_src = folded
    if dead is not None:
        m_src = m_src.join(dead, id_col, "left_anti")
    if has_delta:
        m_src = m_src.unionByName(delta)
    m_idx = (
        m_src
        .join(F.broadcast(new_reps), "_ckey", "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_new"), F.col("_rep")).alias("_rep"),
        )
    )
    return _incremental_gate(
        new_df,
        r_bands,
        idx_sets.select(F.col(id_col), F.col("hset")),
        m_idx,
        text_col, id_col, threshold, num_hashes, num_bands, shingle_k,
        max_bucket, hash_fn,
        idx_precapped=True,
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint per document as a BIGINT — 64 bits under the
    default xxhash64 token hash, 60 bits under the CLOSED-FORM ``"md5"``
    twin (first 15 hex digits of md5 as a bigint — the
    ``_shingle_hash`` convention, bit-identical in DuckDB, so the md5
    form backs an exact oracle while the flagship keeps xxhash64
    throughput; 60 not 64 because 16 hex digits can overflow a signed
    BIGINT cast on the SQL side).

    Per distinct token: the hash; per bit: majority vote across tokens,
    packed with a sum over shifted bit tests.  All array expressions —
    JVM-side.  ``hx`` stays a separate column on purpose: the packer
    references it 2·bits×, which stops CollapseProject from inlining the
    tokenizer into the bit loop (it only inlines once-referenced or cheap
    expressions), so tokenization+hashing runs once per row.  The bit loop
    is one compact ``aggregate`` HOF rather than 64 Python-generated
    branches — the expanded tree blows past codegen method limits and runs
    ~3× slower interpreted.
    """
    if hash_fn == "xxhash64":
        hx_sql, bits = "transform(toks, t -> xxhash64(t))", 64
    elif hash_fn == "md5":
        hx_sql, bits = (
            "transform(toks, t ->"
            " cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))",
            60,
        )
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    base = (
        fan_out(df.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            F.array_distinct(tokens(normalized_text(F.col(text_col)))).alias(
                "toks"
            ),
        )
        .withColumn("hx", F.expr(hx_sql))
    )
    # SQL-expression lambdas because the bit index must itself be an
    # expression (the Python shiftright wrapper only takes int shifts)
    packed = F.expr(
        "aggregate("
        f"  transform(sequence(0, {bits - 1}), b ->"
        "    CASE WHEN 2 * size(filter(hx, h -> (shiftright(h, b) & 1) = 1))"
        "              > size(hx)"
        "         THEN shiftleft(1L, b) ELSE 0L END),"
        "  0L, (acc, x) -> acc | x)"
    )
    return base.select(F.col(id_col), packed.alias("simhash"))


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation: every node's label converges to the minimum node
    id reachable from it.  Returns (node, component).

    The near-dup dedup closer: LSH/Jaccard emit *pairs*; grouping pairs
    into clusters (and keeping e.g. the min-id doc per cluster) needs the
    transitive closure, which no single join expresses.

    Scale design: each iteration is one shuffle join (labels ⋈ edges on the
    neighbor key) + one min-aggregation — both keyed on node id, so AQE can
    coalesce/skew-split them; iterations = graph diameter, and near-dup
    graphs are overwhelmingly tiny star clusters (diameter ≤ 2-3).
    ``localCheckpoint`` per iteration truncates the lineage so plan size
    stays constant across iterations.  For adversarially long chains,
    alternate large-star/small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — same join/agg primitives.
    """
    und = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
    if nodes is not None:
        node_df = nodes.select(F.col(nodes.columns[0]).alias("node"))
    else:
        node_df = und.select(F.col("s").alias("node")).distinct()
    und = und.localCheckpoint(eager=False)
    labels = node_df.select("node", F.col("node").alias("component"))
    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und.d == labels.node)
            .groupBy("s")
            .agg(F.min("component").alias("nbr_min"))
        )
        # convergence flag computed INLINE (r11 optimization): labels
        # only ever decrease, so new != old ⇔ nbr_min < component — no
        # separate join-back against the old labels per round.  The one
        # action per round both materializes the checkpoint and folds
        # the change count.
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.s, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", "component")
                ).alias("component"),
                (F.coalesce("nbr_min", "component") < F.col("component"))
                .cast("long")
                .alias("_chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(F.sum("_chg")).first()[0] or 0
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    else:
        # exhausting max_iter without a fixpoint means the labels are
        # WRONG (a component is still split) — failing loudly beats a
        # silent wrong answer that downstream "keep min-id per cluster"
        # dedup would act on.  Long-diameter graphs belong on
        # connected_components_star (O(log² n) rounds).
        raise RuntimeError(
            f"min-label propagation did not converge in {max_iter} "
            "rounds (graph diameter exceeds max_iter); raise max_iter "
            "or use connected_components_star"
        )
    return labels


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14).  Returns (node, component) with component = min node id.

    Why a second CC operator: ``connected_components`` (min-label
    propagation) needs O(diameter) rounds — a 500-node chain is 500
    shuffle rounds.  The star algorithm contracts the graph toward
    star form in O(log² n) rounds regardless of diameter:

    - **large-star** (per node u): hang every *larger* neighbor off the
      minimum of u's closed neighborhood — emit (v, min(Γ⁺(u))) for
      v ∈ Γ(u), v > u.  Keeps edges pointing sharply downhill.
    - **small-star** (per node u): hang u and all its (smaller) parents
      off their collective minimum — emit (v, m) for
      v ∈ Γ⁻(u) ∪ {u} − {m}, m = min(Γ⁻(u) ∪ {u}).

    Both rounds are one groupBy-min plus one equi-join on the node key —
    the same shuffle primitives as min-label, just fewer rounds.  Edges
    stay in (child > parent) canonical form between rounds; at the fixed
    point every child points directly at its component minimum.
    ``localCheckpoint`` per round truncates lineage (constant plan size).
    Fixpoint detection is exact: a round that changes nothing ends the
    loop (``exceptAll`` both ways via counts of the canonical edge set).
    """
    # canonical directed form (child > parent); drop self-loops
    e = (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(
            F.greatest("x", "y").alias("a"), F.least("x", "y").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # carry the canonical edge count across rounds: e was counted when
    # it was last round's `contracted`, so re-counting it every round
    # was one redundant job per round (r11)
    n_e = e.count()
    for _ in range(max_iter):
        # -- large-star: neighborhoods over BOTH orientations
        und = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = (
            und.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .select("a", F.least("mn", "a").alias("m"))
        )
        large = (
            und.filter(F.col("b") > F.col("a"))  # strictly larger neighbors
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # -- small-star on the (child, parent) edges: parents are exactly
        # the ≤-neighbors, so one groupBy gives m = min(Γ⁻(u) ∪ {u})
        sm = large.groupBy("a").agg(F.min("b").alias("m"))
        contracted = (
            large.join(sm, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(sm.select(F.col("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # exact fixpoint: same canonical edge set as last round
        n_c = contracted.count()
        if n_c == n_e and contracted.exceptAll(e).limit(1).count() == 0:
            e = contracted
            break
        e = contracted
        n_e = n_c
    else:
        # the same fail-loudly contract as connected_components: labels
        # from a non-converged contraction can still split one true
        # component, and downstream keep-min-per-cluster dedup would
        # silently keep extra duplicates
        raise RuntimeError(
            f"star connected components did not reach its fixpoint in "
            f"{max_iter} rounds — raise max_iter"
        )
    labels = e.select(F.col("a").alias("node"), F.col("b").alias("component"))
    roots = e.select(F.col("b").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    out = labels.unionByName(roots)
    if nodes is not None:
        node_df = nodes.select(F.col(nodes.columns[0]).alias("node"))
        isolated = node_df.join(out, "node", "left_anti").withColumn(
            "component", F.col("node")
        )
        out = out.unionByName(isolated)
    return out.distinct()


def _dup_span_intervals(
    docs_df: DataFrame, id_col: str, text_col: str, k: int,
    hash_bits: int = 64,
):
    """Shared front half of span-level exact-substring dedup (Lee et al.
    2022): tokenize, hash every k-gram, find corpus-duplicated grams
    (map-side-combined groupBy + LEFT SEMI back — AQE-skew-splittable,
    never a count-over-window), and return (sized, iv): per-doc token
    counts and the [s, e) duplicated-span intervals.
    ``duplicate_spans`` measures the interval union;
    ``remove_duplicate_spans`` excises it.

    ``hash_bits=64`` (default) sends one xxhash64 per gram —
    collision odds ~m²/2⁶⁵, fine to ~10¹⁰ grams.  ``hash_bits=128``
    sends a STRUCT of two independently-salted xxhash64 values — same
    plan shape and shuffle keys (struct keys hash/compare natively),
    16 bytes instead of 8, collision odds ~m²/2¹²⁹ — the true-100 TB
    setting where the corpus holds 10¹¹+ grams."""
    if hash_bits not in (64, 128):
        raise ValueError(f"hash_bits must be 64 or 128, got {hash_bits}")
    docs = docs_df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    toked = docs.select(
        "id", tokens(F.lower(F.col("text"))).alias("t")
    ).localCheckpoint(eager=False)
    sized = toked.select("id", F.size("t").alias("n_tokens"), "t")
    def gram_hash(gram_str):
        if hash_bits == 64:
            return F.xxhash64(gram_str)
        return F.struct(
            F.xxhash64(gram_str).alias("h1"),
            F.xxhash64(gram_str, F.lit(1)).alias("h2"),
        )

    grams = (
        sized.filter(F.col("n_tokens") >= k)
        .select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n_tokens") - k),
                    lambda i: F.struct(
                        i.alias("pos"),
                        gram_hash(
                            F.concat_ws(" ", F.slice("t", i + 1, F.lit(k)))
                        ).alias("gh"),
                    ),
                )
            ).alias("pg"),
        )
        .select("id", F.col("pg.pos").alias("pos"), F.col("pg.gh").alias("gh"))
    )
    # grams deliberately NOT checkpointed (r11 A/B): it feeds both the
    # dup-count groupBy and the LEFT SEMI probe side, but materializing
    # the corpus-sized (id, pos, gh) stream costs far more than running
    # the codegen'd concat+hash map twice (span_removal 2.5 → 5.1 s
    # checkpointed at sf0.1)
    dup_gh = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("gh")
    )
    iv = grams.join(dup_gh, "gh", "left_semi").select(
        "id", F.col("pos").alias("s"), (F.col("pos") + k).alias("e")
    )
    return sized, iv


def duplicate_spans(
    docs_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    hash_bits: int = 64,
) -> DataFrame:
    """Per-document duplicated-substring coverage at k-token granularity —
    the span-level exact-substring dedup signal of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499), re-expressed relationally instead of via suffix
    arrays: any k-token gram occurring ≥2 times corpus-wide (across OR
    within documents) marks its k-token span as duplicated, and per doc
    we report the union length of marked spans.

    Returns (id, n_tokens, dup_tokens, dup_frac): `dup_tokens` is the
    number of token positions covered by at least one duplicated gram
    (interval-union length, NOT the gram count — overlapping grams are
    not double-counted), `dup_frac` the coverage ratio rounded to 4dp.

    Scale design: grams never carry text past the first map — each
    (doc, pos) row holds a 64-bit ``xxhash64`` of the gram (collision
    probability ~m²/2⁶⁵; at 10¹¹ grams ≈ 0.3, so at true 100 TB scale
    widen to a 128-bit hash pair — the shape is unchanged).  Duplicate
    gram detection is a map-side-combined groupBy on the hash followed
    by a LEFT SEMI join back (NOT a count-over-window: a degenerate
    gram with 10⁸ occurrences would pin one window partition, while
    AQE's skew-join splitting handles the same key in join form).  Span
    union is the classic sorted-interval sweep as a per-doc running-max
    window — per-doc data, never global.  No collect anywhere.
    """
    sized, iv = _dup_span_intervals(docs_df, id_col, text_col, k, hash_bits)
    # interval union per doc: pos is unique within a doc, so the ORDER BY
    # is total and the ROWS frame deterministic
    prev = (
        Window.partitionBy("id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cov = iv.withColumn("pme", F.max("e").over(prev)).withColumn(
        "add",
        F.greatest(
            F.lit(0),
            F.col("e")
            - F.greatest(F.col("s"), F.coalesce("pme", F.col("s"))),
        ),
    )
    per_doc = cov.groupBy("id").agg(F.sum("add").alias("dup_tokens"))
    return (
        sized.select("id", "n_tokens")
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.coalesce("dup_tokens", F.lit(0))
                    / F.col("n_tokens").cast("double"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("dup_frac"),
        )
    )


def remove_duplicate_spans(
    docs_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    hash_bits: int = 64,
) -> DataFrame:
    """The TRANSFORMATION half of Lee et al. 2022 (arXiv:2107.06499
    §4, "ExactSubstr" deduplication): ``duplicate_spans`` measures
    duplicated coverage; this operator actually excises it, re-emitting
    each document with every token position covered by a corpus-
    duplicated k-gram removed.

    Output (id, n_tokens, kept_tokens, cleaned_text): the cleaned text
    is the kept tokens re-joined with single spaces — token-normalized
    (lowered, whitespace-collapsed), the same normalization the span
    detection tokenizes under, so removal boundaries and text agree by
    construction.

    Scale shape: duplicated intervals come from the shared
    ``_dup_span_intervals`` base (grams travel as 64-bit hashes, dup
    detection is groupBy + LEFT SEMI — see ``duplicate_spans``).
    Covered positions are exploded per interval (≤ k rows per duplicated
    gram instance — proportional to the DUPLICATED stream, not the
    corpus) and distinct-reduced map-side; kept tokens re-assemble via
    array_sort(collect_list(struct(pos, tok))) inside the per-doc
    aggregate — the chat_assembly pattern: no window, no global sort,
    aggregation buffer bounded by one document's tokens.  Nothing
    reaches the driver."""
    sized, iv = _dup_span_intervals(docs_df, id_col, text_col, k, hash_bits)
    covered = iv.select(
        "id",
        F.explode(F.sequence(F.col("s"), F.col("e") - 1)).alias("pos"),
    ).distinct()
    toks_pos = sized.select(
        "id", F.posexplode("t").alias("pos", "tok")
    )
    kept = toks_pos.join(covered, ["id", "pos"], "left_anti")
    agg = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("kept_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("cleaned_text"),
    )
    return (
        sized.select("id", "n_tokens")
        .join(agg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias(
                "kept_tokens"
            ),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def content_chunks(
    docs_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 16,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Content-defined chunking (CDC): split each document into chunks
    whose boundaries depend on CONTENT, not position — a boundary falls
    after every token whose md5-derived bucket is ``0 mod divisor``
    (average chunk length ≈ divisor tokens).  This is the
    rsync/LBFS/FastCDC idea applied to token streams: inserting or
    deleting a token early in a document shifts every FIXED-window
    segment after it (so ``segment_dedup`` misses the unchanged tail),
    but CDC boundaries re-synchronize at the next content-defined cut,
    so all later chunks hash identically — the property that makes
    chunk-level dedup robust to prepended boilerplate and small edits.

    Returns one row per chunk: (id_col, *keep, chunk_idx, n_chunk_tokens,
    chunk_text, chunk_hash); documents with no non-empty tokens emit no
    rows.  Text is lower+whitespace-normalized before chunking (the
    dedup-family normalization).

    Scale shape: the whole chunker is ONE narrow JVM-side map with zero
    shuffle; only the downstream chunk_hash aggregation (the caller's
    dedup groupBy) shuffles, and it shuffles (hash, id) pairs, never
    text.  The formulation is deliberately NOT a left fold appending to
    an accumulator array (each append copies the accumulator — O(n²)
    bytes per document, measured 3.5 s vs 1.x s at sf0.1): instead the
    boundary POSITIONS are extracted with one filter over the index
    sequence (one md5 per token), and each chunk is a ``slice`` between
    consecutive boundaries — O(tokens) total.  The md5-bucket boundary
    is engine-portable, so an exact oracle replays it positionally
    (boundary count before position i = chunk index — ORACLE_CDC in
    queries.py)."""
    if divisor < 2:
        raise ValueError(f"divisor must be >= 2, got {divisor}")

    def is_boundary(t: Column) -> Column:
        return (
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
            % divisor
            == 0
        )

    toks = F.filter(
        tokens(F.lower(F.col(text_col))), lambda t: F.length(t) >= 1
    )

    def chunks_of(ts: Column) -> Column:
        n = F.size(ts)

        def cut(ends: Column) -> Column:
            return F.transform(
                F.sequence(F.lit(1), F.size(ends)),
                lambda j: let(
                    F.when(j == 1, F.lit(1)).otherwise(
                        F.element_at(ends, j - 1) + 1
                    ),
                    lambda start: F.slice(
                        ts, start, F.element_at(ends, j) - start + 1
                    ),
                ),
            )

        def with_bpos(bpos: Column) -> Column:
            # chunk end positions: every boundary, plus the final
            # partial chunk's end (n) unless the last token IS one.
            # bpos and ends are let-bound: an unbound reference
            # duplicates the whole md5-filter subtree per use.
            ends = F.when(
                (F.size(bpos) > 0) & (F.element_at(bpos, -1) == n), bpos
            ).otherwise(F.concat(bpos, F.array(n)))
            return let(ends, cut)

        bpos = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: is_boundary(F.element_at(ts, i)),
        )
        return F.when(n > 0, let(bpos, with_bpos)).otherwise(
            F.array().cast("array<array<string>>")
        )

    base = docs_df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        let(toks, chunks_of).alias("_cks"),
    )
    text_expr = F.concat_ws(" ", F.col("_ctoks"))
    return base.select(
        id_col, *keep, F.posexplode("_cks").alias("_ci", "_ctoks")
    ).select(
        id_col,
        *keep,
        F.col("_ci").cast("long").alias("chunk_idx"),
        F.size("_ctoks").cast("long").alias("n_chunk_tokens"),
        text_expr.alias("chunk_text"),
        F.md5(text_expr).alias("chunk_hash"),
    )


__all__ = [
    "connected_components",
    "connected_components_star",
    "content_chunks",
    "duplicate_spans",
    "remove_duplicate_spans",
    "exact_duplicates",
    "hashed_shingle_sets",
    "jaccard_pairs",
    "jaccard_pairs_hashed",
    "minhash_bucket_audit",
    "minhash_candidates",
    "minhash_incremental_persisted",
    "minhash_index_collector",
    "minhash_near_duplicates",
    "minhash_signatures",
    "shingles",
    "simhash",
]
