"""Corpus-level curation operators: cross-document segment dedup,
corpus-trained LM scoring, and domain-mix (temperature) sampling.

Beyond reference parity (SURVEY.md §2.8 — the reference has no text
surface); these are the C4/CCNet-shaped curation steps an LLM training
pipeline runs between raw ingest and tokenization:

- ``segment_dedup``: remove text segments that repeat across documents
  (the C4 "discard duplicate three-sentence spans" rule, word-window
  form).  Raffel et al. 2020 §2.2; Lee et al. 2022 (Deduplicating
  Training Data ...) motivates substring-level dedup.
- ``bigram_lm_perplexity``: score every document against a word-bigram
  LM trained on the corpus itself (the CCNet quality signal — Wenzek et
  al. 2020 uses a KenLM 5-gram; the bigram+Laplace form keeps the exact
  same plan shape while staying oracle-checkable).
- ``temperature_sample``: per-source sampling quotas ∝ n_source^alpha
  (the multinomial temperature mix used for multilingual/multi-domain
  training sets, e.g. XLM-R, alpha≈0.3-0.7), with a deterministic
  rank-based keep decision.

All three are pure DataFrame compositions — JVM-side expressions, no
Python in any hot path.  Scale notes per operator in the docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from paas_auditor_spark.functions.exprs import let
from paas_auditor_spark.functions.text import tokens


def _segments(text_col, width: int):
    """array<string> of consecutive non-overlapping ``width``-word windows
    over the lowercased token stream; the tail segment may be shorter.
    Built with transform-over-sequence (no explode, no UDF) so the token
    array is materialized once per row."""

    def build(toks):
        n_seg = F.ceil(F.size(toks) / F.lit(float(width))).cast("int")
        return F.transform(
            F.sequence(F.lit(1), F.greatest(n_seg, F.lit(1))),
            lambda i: F.array_join(
                F.slice(toks, (i - F.lit(1)) * width + 1, width), " "
            ),
        )

    return let(tokens(F.lower(text_col)), build)


def segment_dedup(
    docs_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
    spine: DataFrame | None = None,
) -> DataFrame:
    """Cross-document duplicate-segment removal (C4-style).

    Every document is cut into consecutive ``width``-word segments; a
    segment that occurs in MORE THAN ONE distinct document is a
    cross-corpus duplicate and is dropped from every document that
    contains it.  Returns one row per input document:

      (doc_id, n_segments, n_dup_segments, dup_frac, clean_text)

    where ``clean_text`` re-joins the surviving segments in their
    original order (empty string when everything was duplicated).

    Scale shape: explode to (doc_id, seg_idx, segment) — fan-out is
    ~n_words/width, bounded; one shuffle on the segment key for the
    document-frequency count (map-side partial agg applies), one shuffle
    joining the counts back, one shuffle re-grouping by document.  The
    segment key shuffled here is the segment STRING for oracle
    transparency; at 100 TB substitute ``xxhash64(segment)`` as the join
    key — same plan, 8-byte keys (collision odds negligible at 2^64).
    Skewed segments (boilerplate occurring everywhere) produce one hot
    reduce key; AQE skew-split handles the count, and the join back is
    per-(doc, idx) so it stays balanced.
    """
    segs = docs_df.select(
        F.col(id_col),
        F.posexplode(_segments(F.col(text_col), width)).alias("seg_idx", "seg"),
    ).filter(F.col("seg") != "")
    seg_df = segs.groupBy("seg").agg(
        F.countDistinct(id_col).alias("seg_docs")
    )
    marked = segs.join(seg_df, on="seg")
    per_doc = (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("seg_docs") > 1).cast("long")).alias("n_dup_segments"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("seg_docs") == 1,
                                F.struct("seg_idx", "seg"),
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_segments") / F.col("n_segments"), 4),
        )
        .select(id_col, "n_segments", "n_dup_segments", "dup_frac", "clean_text")
    )
    # contract: ONE row per input document — docs whose text yields no
    # segments (empty/whitespace/NULL) would otherwise vanish from the
    # inner pipeline; left-join them back with an all-clean zero row.
    # spine = an id-only relation equal to docs_df.select(id_col); see
    # bigram_lm_perplexity
    if spine is None:
        spine = docs_df.select(id_col)
    return (
        spine.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
            F.coalesce("n_dup_segments", F.lit(0)).alias("n_dup_segments"),
            F.coalesce("dup_frac", F.lit(0.0)).alias("dup_frac"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
        .orderBy(id_col)
    )


def bigram_lm_perplexity(
    docs_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    spine: DataFrame | None = None,
) -> DataFrame:
    """Per-document perplexity under a corpus-trained word-bigram LM with
    Laplace (add-one) smoothing:

      p(w2 | w1) = (C(w1, w2) + 1) / (C(w1) + V)

    where counts come from the corpus itself and V is the distinct-token
    vocabulary size.  Returns (doc_id, n_bigrams, avg_nll, ppl) with
    ppl = exp(avg negative log-likelihood); documents with < 2 tokens
    yield n_bigrams = 0 and NULL scores.

    This is the CCNet quality signal (low perplexity ≈ fluent text, high
    ≈ noise) in an oracle-checkable closed form.  Scale shape: the only
    corpus-sized shuffles key on terms — (w1, w2) and (w1) count
    aggregations with map-side combine, then the per-doc bigram
    occurrence table joins those counts on the same term keys and
    reduces by doc_id.  V arrives via a 1-row cross join (in-plan, no
    driver collect).  Hot head words (Zipf) are exactly the skew AQE
    skew-join splitting targets.
    """

    def bigram_arr(toks):
        grams = F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        )
        return F.when(F.size(toks) >= 2, grams).otherwise(
            F.array().cast("array<struct<w1:string,w2:string>>")
        )

    # Tokenize ONCE and checkpoint: the token array feeds the bigram
    # stream AND the vocabulary count (re-deriving each from text would
    # run the regex tokenizer twice over the corpus — measured ~40% of
    # the operator's wall time at sf0.1).  occ is checkpointed too: three
    # consumers (c2, c1, the scored join) would otherwise each re-reduce
    # the (doc, w1, w2) shuffle.
    toked = docs_df.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("toks")
    ).localCheckpoint(eager=False)
    base = toked.select(id_col, bigram_arr(F.col("toks")).alias("bg"))
    # per-(doc, w1, w2) occurrence counts: one explode, then every
    # downstream aggregate reuses this narrow table
    occ = (
        base.select(
            id_col, F.explode("bg").alias("g")
        )
        .groupBy(id_col, F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("m"))
        .localCheckpoint(eager=False)
    )
    c2 = occ.groupBy("w1", "w2").agg(F.sum("m").alias("c2"))
    c1 = occ.groupBy("w1").agg(F.sum("m").alias("c1"))
    # split("") yields [""]: exclude the empty pseudo-token so an empty
    # doc in the corpus cannot inflate V and shift every doc's ppl
    vocab = (
        toked.select(F.explode("toks").alias("w"))
        .filter(F.length("w") >= 1)
        .agg(F.countDistinct("w").alias("v"))
    )
    # c1 is EXPLICITLY broadcast (the same rule as the trigram model's
    # unigram marginals): it is vocabulary-sized — bounded by Heaps' law,
    # ≪ corpus at any SF — and leaving it to size stats flips the plan
    # to a sort-merge join on BARE w1 once the corpus grows (measured in
    # the sf1 rehearsal: broadcast at sf0.1, SMJ at sf1), which is both
    # an extra full shuffle of the scored stream and a Zipf-skew magnet.
    scored = (
        occ.join(c2, on=["w1", "w2"])
        .join(F.broadcast(c1), on="w1")
        .crossJoin(vocab)
        .select(
            id_col,
            F.col("m"),
            (
                -F.col("m")
                * F.log((F.col("c2") + 1) / (F.col("c1") + F.col("v")))
            ).alias("nll"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("m").alias("n_bigrams"),
        (F.sum("nll") / F.sum("m")).alias("raw_nll"),
    )
    # left join back so < 2-token docs keep a row (n_bigrams 0, NULL ppl);
    # spine = an id-only relation equal to docs_df.select(id_col).  The
    # caller should pass a bare column-pruned scan when docs_df carries
    # lineage the id projection doesn't need — e.g. a fan_out rebalance
    # Exchange added for the tokenizer (deriving the spine from the
    # rebalanced docs_df re-pays the scan AND the repartition; from the
    # fat (id, toks) checkpoint it re-reads whole rows just to project
    # ids).
    if spine is None:
        spine = docs_df.select(F.col(id_col))
    return (
        spine.select(F.col(id_col))
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.round(F.col("raw_nll"), 4).alias("avg_nll"),
            F.round(F.exp(F.col("raw_nll")), 4).alias("ppl"),
        )
        .orderBy(id_col)
    )


def _tri_structs(toks):
    """Array of (w1, w2, w3) trigram structs over a token array; empty
    (never NULL) below 3 tokens.  Shared by the in-query LM and the
    persisted-index collector so both produce the identical trigram
    stream."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
            F.element_at(toks, i + 2).alias("w3"),
        ),
    )
    return F.when(F.size(toks) >= 3, grams).otherwise(
        F.array().cast("array<struct<w1:string,w2:string,w3:string>>")
    )


def trigram_interp_perplexity(
    docs_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lambdas: tuple = (0.5, 0.3, 0.2),
    spine: DataFrame | None = None,
) -> DataFrame:
    """Per-document perplexity under an INTERPOLATED trigram LM
    (Jelinek–Mercer linear interpolation, the classic smoothing of
    Chen & Goodman 1999): at every trigram position,

      p = λ3·(C3(w1w2w3)+1)/(C3ctx(w1w2)+V)
        + λ2·(B(w2w3)+1)/(Bctx(w2)+V)
        + λ1·(U(w3)+1)/(N+V)

    with every count derived from the SAME corpus trigram-position
    stream (contexts are trigram-context marginals, so the three
    estimates are consistent by construction and the whole model is a
    closed form any engine reproduces exactly — the oracle replays it).
    Backing off through bigram and unigram mass is what keeps unseen
    trigrams from saturating at the Laplace floor — the reason CCNet-
    style quality filtering uses interpolated models, not raw counts.

    Scale shape mirrors ``bigram_lm_perplexity`` with two structural
    improvements: after the single (doc, w1, w2, w3) occurrence reduce,
    all counts aggregate from the CORPUS-level trigram table ``c3``
    (marginals of marginals — b2 reduces b23, not occ), and the
    marginals join onto c3 FIRST.  The doc-keyed occurrence stream —
    the big relation — then shuffles exactly once, joining the enriched
    c3 on (w1, w2, w3); the naive formulation re-shuffles it five
    times, once per marginal key (measured 1.9 s vs 1.5 s at sf0.1).
    Second (the marginal-join fusion): of the four marginal
    joins onto c3, the two BIGRAM-keyed ones ((w1,w2) and (w2,w3)) ride
    the very exchanges that build c3ctx/b23 (identical child plans →
    ReusedExchange, no extra shuffle), while the two UNIGRAM-keyed ones
    (b2 on w2, u3 on w3) — whose mid-plan exchanges can NOT be reused —
    are explicit broadcasts: unigram marginals are vocabulary-sized
    (bounded by Heaps' law, ≪ corpus at any SF), and pre-joining them
    onto the b23-sized relation removes the two remaining c3-sized
    shuffles without ever hash-partitioning the trigram table by a
    bare Zipf-head word (the skew a w2-only repartition would invite).
    V and N arrive via 1-row broadcast cross joins; Zipf-head contexts
    are AQE skew-split like every other term key.  Returns (doc_id,
    n_trigrams, avg_nll, ppl); < 3-token docs keep a row with
    n_trigrams = 0 and NULL scores."""
    l3, l2, l1 = lambdas
    tri_arr = _tri_structs
    toked = docs_df.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("toks")
    ).localCheckpoint(eager=False)
    occ = (
        toked.select(id_col, F.explode(tri_arr(F.col("toks"))).alias("g"))
        .groupBy(
            id_col,
            F.col("g.w1").alias("w1"),
            F.col("g.w2").alias("w2"),
            F.col("g.w3").alias("w3"),
        )
        .agg(F.count(F.lit(1)).alias("m"))
        .localCheckpoint(eager=False)
    )
    # c3 and b23 stay localCheckpoint'd: an A/B that removed them hoping
    # AQE stage reuse would dedupe the shared Exchange-rooted aggregates,
    # but exec time rose MORE than the ~0.28 s/call build-time planning
    # fell (interp exec 1.54 → 2.15 s, jobs 72 → 96 at sf0.1) — the
    # consumers' stages do not canonicalize equal, so the marginal
    # aggregations really recompute per consumer without the lineage cut.
    c3 = (
        occ.groupBy("w1", "w2", "w3")
        .agg(F.sum("m").alias("c3"))
        .localCheckpoint(eager=False)
    )
    c3ctx = c3.groupBy("w1", "w2").agg(F.sum("c3").alias("c3ctx"))
    b23 = (
        c3.groupBy("w2", "w3")
        .agg(F.sum("c3").alias("b23"))
        .localCheckpoint(eager=False)
    )
    b2 = b23.groupBy("w2").agg(F.sum("b23").alias("b2"))
    u3 = b23.groupBy("w3").agg(F.sum("b23").alias("u3"))
    vocab = (
        toked.select(F.explode("toks").alias("w"))
        .filter(F.length("w") >= 1)
        .agg(F.countDistinct("w").alias("v"))
    )
    total = c3.agg(F.sum("c3").alias("n_total"))
    p = (
        F.lit(l3) * (F.col("c3") + 1) / (F.col("c3ctx") + F.col("v"))
        + F.lit(l2) * (F.col("b23") + 1) / (F.col("b2") + F.col("v"))
        + F.lit(l1) * (F.col("u3") + 1) / (F.col("n_total") + F.col("v"))
    )
    b23e = b23.join(F.broadcast(b2), on="w2").join(F.broadcast(u3), on="w3")
    enriched = (
        c3.join(c3ctx, on=["w1", "w2"])
        .join(b23e, on=["w2", "w3"])
        .crossJoin(vocab)
        .crossJoin(total)
    )
    scored = occ.join(enriched, on=["w1", "w2", "w3"]).select(
        id_col, "m", (-F.col("m") * F.log(p)).alias("nll")
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("m").alias("n_trigrams"),
        (F.sum("nll") / F.sum("m")).alias("raw_nll"),
    )
    # spine = an id-only relation equal to docs_df.select(id_col); see
    # bigram_lm_perplexity — callers pass a bare pruned scan so the id
    # projection doesn't re-pay a rebalance Exchange or re-read fat
    # checkpoint rows
    if spine is None:
        spine = docs_df.select(F.col(id_col))
    return (
        spine.select(F.col(id_col))
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("n_trigrams"), F.lit(0)).alias("n_trigrams"),
            F.round(F.col("raw_nll"), 4).alias("avg_nll"),
            F.round(F.exp(F.col("raw_nll")), 4).alias("ppl"),
        )
        .orderBy(id_col)
    )


def lm_counts_collector(
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    retract: bool = False,
):
    """foreachBatch hook for an INCREMENTALLY MAINTAINED trigram-LM
    count store — the language-model member of the collector family
    (histograms / postings / MinHash bands): each micro-batch of newly
    ingested documents commits its own additive ``(w1, w2, w3, c3)``
    trigram counts plus its distinct-token ``vocab`` relation under the
    shared atomic commit protocol (operators/atomic.py), so the corpus
    is tokenized exactly once, at ingest.  Both parts are mergeable by
    construction: trigram counts SUM across batches and vocab is a
    distinct-of-union — which also makes generational compaction
    (compact_batches, a row-preserving rewrite) invisible to readers.
    Replay protection is the correctness mechanism for the additive
    part, exactly as for histogram counts: a replayed batch finds its
    committed directory and writes nothing (counts would double).

    ``lm_index_finalize`` turns the accumulated counts into the scoring
    model (the "train once" step — at 100 TB a maintenance-cadence job,
    like compaction); ``trigram_interp_perplexity_from_model`` scores
    new documents off it without ever re-counting the corpus.

    ``retract=True`` makes the hook a DELETION writer — the additive
    families' answer to takedowns (the tombstone machinery handles
    per-ROW indexes; an aggregate store deletes by SUBTRACTION): the
    batch's trigram and vocab-occurrence counts land NEGATED, and the
    finalize's sums net them out, leaving a model value-identical to
    one trained without the retracted documents (oracle-checked by
    lm_perplexity_retracted).  The caller must retract only documents
    it actually ingested, exactly once — finalize validates (any
    negative net count raises loudly).  Batch ids share the dataset's
    replay protection, so ingest and retraction streams must use
    disjoint id ranges (or one unified stream).  Vocab is stored as
    (w, c) occurrence counts — presence is c > 0 — so token
    disappearance is exact, not monotone.  Retraction therefore
    requires a dataset written entirely in the counted format: on a
    pre-upgrade dataset (legacy distinct-(w) vocab) re-collect before
    retraction batches land — finalize detects the mix and refuses
    rather than undercounting silently."""
    from paas_auditor_spark.operators.atomic import commit_batch_dir

    sign = -1 if retract else 1

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        def write(tmp: str) -> None:
            toked = batch_df.select(
                F.col(id_col), tokens(F.lower(F.col(text_col))).alias("toks")
            ).localCheckpoint(eager=False)
            (
                toked.select(F.explode(_tri_structs(F.col("toks"))).alias("g"))
                .groupBy(
                    F.col("g.w1").alias("w1"),
                    F.col("g.w2").alias("w2"),
                    F.col("g.w3").alias("w3"),
                )
                .agg((F.count(F.lit(1)) * F.lit(sign)).alias("c3"))
                .write.parquet(f"{tmp}/trigrams")
            )
            (
                toked.select(F.explode("toks").alias("w"))
                .filter(F.length("w") >= 1)
                .groupBy("w")
                .agg((F.count(F.lit(1)) * F.lit(sign)).alias("c"))
                .write.parquet(f"{tmp}/vocab")
            )

        commit_batch_dir(path, batch_id, write)

    return write_batch


def lm_index_finalize(
    spark,
    counts_path: str,
    model_path: str,
) -> None:
    """Materialize the SCORING MODEL from accumulated lm_counts_collector
    batches — the train-once step of the persisted LM (the
    bm25_persisted treatment for the slowest headline family).

    Folds the additive trigram counts (one sum groupBy), derives every
    marginal the Jelinek–Mercer interpolation needs, and writes four
    relations under ``model_path``:

    - ``model``    — (w1, w2, w3, c3, c3ctx, b23): the trigram table
      pre-joined with its trigram-keyed and bigram-keyed marginals, so
      scoring joins the document stream ONCE, on (w1, w2, w3);
    - ``b2`` / ``u3`` — the unigram-keyed marginals, kept separate
      because they are vocabulary-sized (Heaps' law) and BROADCAST at
      scoring time — exactly the fusion argument the in-query operator
      (trigram_interp_perplexity) measured and pinned;
    - ``meta``     — one row (v, n_total).

    The marginal derivation happens HERE, once per model version, not
    per scored batch — at 100 TB the enrichment joins run at
    maintenance cadence over a trigram table bounded by distinct-gram
    growth, never by corpus size, and every subsequent scoring run is
    probe-only.  Caller owns atomicity/caching of ``model_path`` (the
    ivf_index_write contract — wrap in a build-once artifact or an
    atomic rename)."""
    from paas_auditor_spark.operators.atomic import batch_data_paths

    summed = (
        spark.read.parquet(*batch_data_paths(counts_path, "trigrams"))
        .groupBy("w1", "w2", "w3")
        .agg(F.sum("c3").alias("c3"))
        .localCheckpoint(eager=False)
    )
    # retraction contract (lm_counts_collector retract=True): net counts
    # must stay non-negative — a negative means a document was retracted
    # that was never ingested (or retracted twice), which would silently
    # corrupt every marginal.  One bounded driver check per finalize
    # (maintenance cadence, distinct-gram-bounded input).
    n_neg = summed.filter(F.col("c3") < 0).count()
    if n_neg:
        raise ValueError(
            f"{n_neg} trigram(s) have negative net counts under "
            f"{counts_path!r}: a retraction batch does not match any "
            "ingested content — fix the retraction stream before "
            "finalizing"
        )
    # fully retracted trigrams net to zero: drop them so the model is
    # row-identical to one trained on the surviving corpus
    c3 = summed.filter(F.col("c3") > 0)
    c3ctx = c3.groupBy("w1", "w2").agg(F.sum("c3").alias("c3ctx"))
    b23 = c3.groupBy("w2", "w3").agg(F.sum("c3").alias("b23"))
    (
        c3.join(c3ctx, on=["w1", "w2"])
        .join(b23, on=["w2", "w3"])
        .select("w1", "w2", "w3", "c3", "c3ctx", "b23")
        .write.parquet(f"{model_path}/model")
    )
    b23_cp = b23.localCheckpoint(eager=False)
    b23_cp.groupBy("w2").agg(F.sum("b23").alias("b2")).write.parquet(
        f"{model_path}/b2"
    )
    b23_cp.groupBy("w3").agg(F.sum("b23").alias("u3")).write.parquet(
        f"{model_path}/u3"
    )
    # mergeSchema is LOAD-BEARING here, not an optimization: without it
    # Spark infers the schema from ONE arbitrary data file, so a dataset
    # mixing legacy (w)-only and counted (w, c) vocab batches can come
    # back as (w)-only — the c column silently vanishes, the mixed-format
    # guard below never sees a NULL, and finalize walks the legacy branch
    # where a retraction batch's rows count as PRESENCE (measured: legacy
    # batch sorted first → guard bypassed).  The merged union schema
    # always carries c when any counted batch exists, making the guard
    # deterministic; the read is maintenance-cadence, footer-merge cost
    # is bounded by the compaction-bounded batch count.
    vdf = spark.read.option("mergeSchema", "true").parquet(
        *batch_data_paths(counts_path, "vocab")
    )
    if "c" in vdf.columns:
        # counted vocab (retraction-capable format): presence = net
        # occurrence count > 0; the same non-negativity contract as the
        # trigram sums (short retracted docs can violate vocab without
        # ever touching a trigram, so check here too).  A NULL c means
        # the dataset MIXES legacy (w)-only batches with counted ones
        # (the merged schema unions the column in, nulling legacy rows)
        # — sums would silently skip the legacy rows, so refuse loudly:
        # re-collect or compact the dataset to one format before
        # finalizing.
        n_mixed = vdf.filter(F.col("c").isNull()).count()
        if n_mixed:
            raise ValueError(
                f"vocab under {counts_path!r} mixes legacy (w)-only and "
                f"counted (w, c) batches ({n_mixed} legacy row(s)) — "
                "re-collect the legacy batches before finalizing"
            )
        vsum = vdf.groupBy("w").agg(F.sum("c").alias("c")).localCheckpoint(
            eager=False
        )
        v_neg = vsum.filter(F.col("c") < 0).count()
        if v_neg:
            raise ValueError(
                f"{v_neg} vocab token(s) have negative net counts under "
                f"{counts_path!r}: a retraction batch does not match any "
                "ingested content — fix the retraction stream before "
                "finalizing"
            )
        vocab = vsum.filter(F.col("c") > 0).agg(
            F.count(F.lit(1)).alias("v")
        )
    else:
        # legacy distinct-presence vocab (pre-retraction datasets)
        vocab = vdf.select("w").distinct().agg(F.count(F.lit(1)).alias("v"))
    total = c3.agg(F.sum("c3").alias("n_total"))
    vocab.crossJoin(total).write.parquet(f"{model_path}/meta")


def trigram_interp_perplexity_from_model(
    spark,
    model_path: str,
    docs_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lambdas: tuple = (0.5, 0.3, 0.2),
    batch_probe: bool = False,
    spine: DataFrame | None = None,
) -> DataFrame:
    """Score documents against a FINALIZED persisted trigram LM
    (lm_index_finalize) — the deployment shape of
    ``trigram_interp_perplexity``: the LM is trained once, applied per
    ingest batch, and the training corpus is never re-read or
    re-counted at scoring time.

    One wide shuffle total: the document trigram stream joins the
    pre-enriched ``model`` relation on (w1, w2, w3); the unigram-keyed
    marginals (b2/u3) ride explicit vocabulary-sized broadcasts and
    meta is a 1-row cross join — the exact join geometry the in-query
    operator fused to, minus every count-building stage.  Unlike the
    in-query operator the probe does NOT pre-reduce the stream to
    (doc, trigram, m) occurrence counts first: natural text repeats a
    trigram within one document ~0.1% of the time (measured 260 704
    positions → 260 388 distinct at sf0.1), so the reduce bought
    nothing and cost a full extra shuffle of the big relation (~0.7 s
    of the 1.7 s probe) — the raw positions join the model directly
    and the per-document aggregate absorbs duplicates.

    Scoring INDEXED documents is value-identical to
    trigram_interp_perplexity (same expression tree, exact-integer
    counts — test-pinned and oracle-checked).  Documents with trigrams
    the model has NEVER seen still score: all left joins, with unseen
    counts coalesced to the zero floor — p falls back to
    λ3/(c3ctx+V) + λ2·(b23+1)/(b2+V) + λ1·(u3+1)/(N+V) with the
    trigram-keyed marginals at 0 while the broadcast unigram marginals
    still contribute their true mass.  (A FULL Katz-style backoff for
    out-of-corpus bigram contexts would add two bigram-keyed left
    joins; the zero-floor form keeps the single-shuffle plan and is
    the standard perplexity-filter behavior — unseen mass scores at
    the Laplace floor.)

    ``batch_probe=True`` is the PER-INGEST-BATCH geometry: when the
    scored set is one bounded ingest batch (a few hundred documents)
    rather than a corpus-scale stream, the default left join prices
    every batch at the model relation's size (the stream side of a
    left-outer cannot be the broadcast build side, so Spark
    sort-merges BOTH sides — a full model shuffle per batch).
    Instead the batch's distinct trigram keys (batch-bounded by
    construction) broadcast into a ``left_semi`` probe of the model —
    the model is scanned map-side, column-pruned, NEVER shuffled —
    and the surviving rows (≤ batch distinct trigrams) broadcast back
    onto the raw occurrence stream; the unigram marginals get the
    same semi-join cut before their broadcasts.  Per-batch cost is
    one model map-scan plus batch-sized work, whatever the corpus
    size (no SortMergeJoin / no model-side Exchange,
    plan-asserted).  Identical expression tree → value-identical to
    the default geometry (equality-pinned in tests/test_corpus.py)."""
    from paas_auditor_spark.sources.tables import read_parquet_cached

    l3, l2, l1 = lambdas
    # cached-schema reads: a probe-per-ingest-tick deployment re-reads
    # the same immutable finalized model every tick — four schema
    # inference jobs per probe for metadata that cannot change
    model = read_parquet_cached(spark, f"{model_path}/model")
    b2 = read_parquet_cached(spark, f"{model_path}/b2")
    u3 = read_parquet_cached(spark, f"{model_path}/u3")
    meta = read_parquet_cached(spark, f"{model_path}/meta")
    toked = docs_df.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("toks")
    )
    if batch_probe:
        # the tokenized batch feeds TWO evaluation sites (the keys
        # broadcast build and the scored stream) — checkpoint so the
        # tokenizer runs once.  On the non-batch path occ has a single
        # consumer chain (the spine below reads the raw input), so the
        # checkpoint would be pure build-time planning cost.
        toked = toked.localCheckpoint(eager=False)
    occ = toked.select(
        id_col, F.explode(_tri_structs(F.col("toks"))).alias("g")
    ).select(
        id_col,
        F.col("g.w1").alias("w1"),
        F.col("g.w2").alias("w2"),
        F.col("g.w3").alias("w3"),
    )
    if batch_probe:
        # batch-bounded key sets drive map-side semi-joins: the model
        # and marginal relations are scanned once each, never shuffled.
        # keys feeds three broadcasts — checkpoint the distinct once so
        # the explode+distinct isn't re-run per consumer (the
        # reuse-instead-of-checkpoint variant re-runs it per broadcast,
        # measured sharded exec 0.59 → 1.70 s)
        keys = (
            occ.select("w1", "w2", "w3")
            .distinct()
            .localCheckpoint(eager=False)
        )
        model = F.broadcast(
            model.join(F.broadcast(keys), ["w1", "w2", "w3"], "left_semi")
        )
        b2 = b2.join(
            F.broadcast(keys.select("w2").distinct()), "w2", "left_semi"
        )
        u3 = u3.join(
            F.broadcast(keys.select("w3").distinct()), "w3", "left_semi"
        )
    joined = occ.join(model, on=["w1", "w2", "w3"], how="left")
    p = (
        F.lit(l3)
        * (F.coalesce(F.col("c3"), F.lit(0)) + 1)
        / (F.coalesce(F.col("c3ctx"), F.lit(0)) + F.col("v"))
        + F.lit(l2)
        * (F.coalesce(F.col("b23"), F.lit(0)) + 1)
        / (F.coalesce(F.col("b2"), F.lit(0)) + F.col("v"))
        + F.lit(l1)
        * (F.coalesce(F.col("u3"), F.lit(0)) + 1)
        / (F.col("n_total") + F.col("v"))
    )
    scored = (
        joined
        .join(F.broadcast(b2), on="w2", how="left")
        .join(F.broadcast(u3), on="w3", how="left")
        .crossJoin(F.broadcast(meta))
        .select(id_col, (-F.log(p)).alias("nll"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        (F.sum("nll") / F.count(F.lit(1))).alias("raw_nll"),
    )
    if batch_probe:
        # batch-sized by construction — keep the attach join broadcast
        # so the static plan carries zero sort-merge joins
        per_doc = F.broadcast(per_doc)
    # spine = an id-only relation equal to docs_df.select(id_col); see
    # bigram_lm_perplexity
    if spine is None:
        spine = docs_df.select(F.col(id_col))
    return (
        spine.select(F.col(id_col))
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("n_trigrams"), F.lit(0)).alias("n_trigrams"),
            F.round(F.col("raw_nll"), 4).alias("avg_nll"),
            F.round(F.exp(F.col("raw_nll")), 4).alias("ppl"),
        )
        .orderBy(id_col)
    )


def bpe_merge_table(
    docs_df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> DataFrame:
    """The learned merge table; see ``_bpe_learn``."""
    merges, _ = _bpe_learn(docs_df, text_col, n_merges)
    return merges


def bpe_segment(
    docs_df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> DataFrame:
    """The corpus word-frequency table re-segmented by the learned
    merges: (w, freq, syms) with ``syms`` the subword sequence after
    applying all ``n_merges`` merges in rank order — the tokenizer's
    APPLY side, over the same vocabulary-sized table as training."""
    _, seg = _bpe_learn(docs_df, text_col, n_merges)
    return seg


def _bpe_learn(
    docs_df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Learn the first ``n_merges`` BPE merges from the corpus (Sennrich
    et al. 2016, "Neural Machine Translation of Rare Words with Subword
    Units", arXiv:1508.07909): start from per-character symbol sequences
    over the word-frequency table, and each round (1) pick the adjacent
    symbol pair with the highest corpus frequency (ties broken
    lexicographically — counts are integers, so the argmax is exact and
    engine-independent), (2) greedily merge its non-overlapping
    occurrences left-to-right in every word.  Returns the pair
    (merge table (merge_rank, lhs, rhs, cnt), segmented vocabulary
    (w, freq, syms) after all merges).  Simplification vs production
    BPE: no end-of-word marker symbol (merges are intra-word either
    way here).

    Scale shape: everything after the first aggregation runs on the
    WORD-FREQUENCY table, not the corpus — bounded by distinct-word
    vocabulary (10⁷-10⁸ at web scale), orders of magnitude below corpus
    size.  Each round is one map-side-combined pair-count shuffle, a
    top-1 ``TakeOrderedAndProject``, and a narrow fold
    (``F.aggregate``) applying the broadcast 1-row winner; per-round
    ``localCheckpoint`` keeps the plan O(1) deep like k-means/PageRank.
    The rounds are inherently stage-serial (each merge depends on the
    last) — wall time is round barriers, not data volume.
    """
    words = (
        docs_df.select(
            F.explode(tokens(F.lower(F.col(text_col)))).alias("w")
        )
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    cur = words.select(
        "w",
        "freq",
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.col("w").substr(i, F.lit(1)),
        ).alias("syms"),
    ).localCheckpoint(eager=False)

    merges: list[tuple] = []
    for r in range(1, n_merges + 1):
        pairs = cur.filter(F.size("syms") >= 2).select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("p1"),
                        F.element_at("syms", i + 1).alias("p2"),
                    ),
                )
            ).alias("pr"),
        )
        # the winner is ONE row — collect it (the k-means/MMR bounded-
        # driver-action convention) so it can ride into the fold as
        # string literals, and so merge exhaustion is detectable: a
        # corpus fully merged before n_merges rounds yields an EMPTY
        # argmax, and a crossJoin against it would wipe the word table
        best_rows = (
            pairs.groupBy(
                F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2")
            )
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "p1", "p2")
            .limit(1)
            .collect()
        )
        if not best_rows:
            break
        p1, p2, cnt = (
            best_rows[0]["p1"],
            best_rows[0]["p2"],
            int(best_rows[0]["cnt"]),
        )
        merges.append((r, p1, p2, cnt))
        l1, l2 = F.lit(p1), F.lit(p2)
        cur = cur.select(
            "w",
            "freq",
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == l1)
                    & (s == l2),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.concat(l1, l2)),
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            ).alias("syms"),
        ).localCheckpoint(eager=False)
    spark = docs_df.sparkSession
    out = spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, cnt long"
    )
    return out, cur


def dsir_scores(
    raw_df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169): score
    every raw document by the log-likelihood ratio of a hashed
    bag-of-unigrams model trained on a small in-domain target set vs the
    raw pool itself,

        log w(x) = Σ_b c_x(b) · [log p_target(b) − log p_raw(b)]

    with add-one smoothing over ``buckets`` hash buckets.  Downstream,
    resampling keeps the top-weighted docs (the paper adds Gumbel noise;
    the deterministic top-k variant is what an exact oracle can check).

    Returns (id, n_tokens, log_ratio) for every raw doc; log_ratio is
    rounded to 4dp (sum order across partitions perturbs the last bits).

    Scale shape: tokens hash to ``buckets`` buckets via an md5-derived
    bucket id (portable across engines — no engine-native hash in the
    semantics).  The two distribution tables are ≤``buckets`` rows —
    broadcast; the only corpus-sized shuffle is the per-(doc, bucket)
    count reduce, map-side combined.  Token totals ride along as 1-row
    broadcast cross joins; no driver collect.
    """

    def bucket(w):
        return (
            F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
            % buckets
        )

    def doc_buckets(df):
        toked = df.select(
            F.col(id_col).alias("id"),
            tokens(F.lower(F.col(text_col))).alias("toks"),
        )
        return toked, (
            toked.select("id", F.explode("toks").alias("w"))
            # split("") yields [""], not []: drop the empty pseudo-token
            # so an empty doc scores (n_tokens=0, 0.0) instead of
            # contributing a phantom token to both distributions
            .filter(F.length("w") >= 1)
            .select("id", bucket(F.col("w")).alias("b"))
        )

    raw_toked, raw_tok = doc_buckets(raw_df)
    _, tgt_tok = doc_buckets(target_df)

    # totals fold out of the ≤buckets-row distribution tables — summing
    # them is free, while counting the token relations again would be
    # two more corpus-sized aggregation jobs
    # the dist checkpoints stay: an A/B that dropped them in favor of AQE
    # stage reuse and the corpus-sized explode+count recomputed per
    # consumer instead (exec 1.16 → 1.86 s at sf0.1, dwarfing the
    # ~0.28 s/call build-time planning saved)
    tgt_dist = (
        tgt_tok.groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
        .localCheckpoint(eager=False)
    )
    raw_dist = (
        raw_tok.groupBy("b")
        .agg(F.count(F.lit(1)).alias("cr"))
        .localCheckpoint(eager=False)
    )
    tgt_total = tgt_dist.agg(
        F.coalesce(F.sum("ct"), F.lit(0)).alias("nt")  # empty target → 0
    )
    raw_total = raw_dist.agg(
        F.coalesce(F.sum("cr"), F.lit(0)).alias("nr")
    )

    per_doc_b = raw_tok.groupBy("id", "b").agg(
        F.count(F.lit(1)).alias("c")
    )
    scored = (
        per_doc_b.join(F.broadcast(tgt_dist), "b", "left")
        .join(F.broadcast(raw_dist), "b", "left")
        .crossJoin(F.broadcast(tgt_total))
        .crossJoin(F.broadcast(raw_total))
        .select(
            "id",
            "c",
            (
                F.col("c")
                * (
                    F.log(
                        (F.coalesce("ct", F.lit(0)) + 1)
                        / (F.col("nt") + F.lit(buckets)).cast("double")
                    )
                    - F.log(
                        (F.coalesce("cr", F.lit(0)) + 1)
                        / (F.col("nr") + F.lit(buckets)).cast("double")
                    )
                )
            ).alias("lr"),
        )
    )
    per_doc = scored.groupBy("id").agg(
        F.sum("c").alias("n_tokens"), F.sum("lr").alias("lr")
    )
    return (
        raw_toked.select("id")
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.round(F.coalesce("lr", F.lit(0.0)), 4).alias("log_ratio"),
        )
    )


def temperature_sample(
    docs_df: DataFrame,
    alpha: float = 0.5,
    target_frac: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-mix balancing: per-source quotas from a temperature-scaled
    multinomial, with a deterministic rank-based keep decision.

      p(source) ∝ n_source^alpha       (alpha < 1 upweights small sources)
      quota(source) = floor(T · p(source)),  T = target_frac · n_total

    A document is kept iff its ascending doc_id rank within its source is
    ≤ the source's quota — fully deterministic (re-runs and the oracle
    agree).  NOTE: quotas depend on the GLOBAL totals (n_total, Σwᵢ), so
    appending docs to any source shifts every source's quota and can
    change which ranked docs survive elsewhere; for an append-stable
    keep decision use the content-addressed samplers
    (train_test_split / deterministic_sample) instead.
    Returns (doc_id, source, n_source, quota, src_rank, kept).

    Scale shape: the per-source counts are a tiny aggregate (one row per
    source) broadcast back onto the corpus; the only corpus-sized
    shuffle is the per-source rank window.  At 100 TB replace the global
    row_number window with a per-source deterministic hash threshold
    (keep iff pmod(xxhash64(id), 2^20) < quota/n·2^20) — same contract,
    no sort; the rank form is kept here because it is exactly
    reproducible in ANSI SQL.
    """
    counts = docs_df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_source")
    )
    tot = docs_df.agg(
        F.count(F.lit(1)).alias("n_total")
    )
    weights = (
        counts.crossJoin(tot)
        .withColumn("w", F.pow(F.col("n_source"), F.lit(alpha)))
        .withColumn("w_sum", F.sum("w").over(Window.partitionBy()))
        .withColumn(
            "quota",
            F.floor(
                F.lit(target_frac) * F.col("n_total") * F.col("w") / F.col("w_sum")
            ).cast("long"),
        )
        .select(source_col, "n_source", "quota")
    )
    w = Window.partitionBy(source_col).orderBy(F.col(id_col).asc())
    return (
        docs_df.select(id_col, source_col)
        .withColumn("src_rank", F.row_number().over(w).cast("long"))
        .join(F.broadcast(weights), on=source_col)
        .select(
            id_col,
            source_col,
            "n_source",
            "quota",
            "src_rank",
            (F.col("src_rank") <= F.col("quota")).alias("kept"),
        )
        .orderBy(id_col)
    )


__all__ = [
    "bigram_lm_perplexity",
    "lm_counts_collector",
    "lm_index_finalize",
    "mixture_weights",
    "segment_dedup",
    "temperature_sample",
    "trigram_interp_perplexity",
    "trigram_interp_perplexity_from_model",
]


def mixture_weights(
    docs_df,
    target_source: str,
    text_col: str = "text",
    source_col: str = "source",
    buckets: int = 64,
):
    """Data-mixing weight fit (the DoReMi/DSIR question inverted): what
    non-negative, sum-to-one weights over the OTHER sources make their
    blended hashed-unigram distribution closest (L2) to
    ``target_source``'s?  The answer is the sampling ratio table a
    training-data pipeline feeds its source mixer when one slice is the
    quality reference.

    Shape: one (source, bucket) count reduce over the token stream
    (md5-bucketed like DSIR — engine-portable), normalized per source;
    the solve runs on the DRIVER over the collected buckets×sources
    matrix — a bounded O(B·S) collect (64×5 here), the PQ-codebook /
    PCA bounded-collect convention.  Solver: numpy least squares
    followed by clip-to-zero + renormalize — the standard deterministic
    approximation of the simplex-constrained projection (exact NNLS
    needs an active-set loop; the clipped solution is pinned by the
    better-than-uniform pytest contract rather than claimed optimal).

    Returns one row per non-target source: (source, weight) with weight
    rounded to 6dp, descending weight then source order.
    """
    import numpy as np
    from pyspark.sql import functions as F

    from paas_auditor_spark.functions.text import tokens

    def bucket(w):
        return (
            F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
            % buckets
        )

    toks = docs_df.select(
        F.col(source_col).alias("src"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
    ).filter(F.length("w") >= 1)
    counts = (
        toks.select("src", bucket(F.col("w")).alias("b"))
        .groupBy("src", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rows = counts.collect()  # bounded: <= sources x buckets rows
    srcs = sorted({r["src"] for r in rows})
    if target_source not in srcs:
        raise ValueError(f"target source {target_source!r} not in corpus")
    others = [s for s in srcs if s != target_source]
    mat = {s: np.zeros(buckets) for s in srcs}
    for r in rows:
        mat[r["src"]][r["b"]] = r["c"]
    for s in srcs:
        tot = mat[s].sum()
        if tot > 0:
            mat[s] = mat[s] / tot
    A = np.stack([mat[s] for s in others], axis=1)  # B x S'
    y = mat[target_source]
    w, *_ = np.linalg.lstsq(A, y, rcond=None)
    w = np.clip(w, 0.0, None)
    w = w / w.sum() if w.sum() > 0 else np.full(len(others), 1.0 / len(others))
    spark = docs_df.sparkSession
    out = spark.createDataFrame(
        [(s, float(round(wi, 6))) for s, wi in zip(others, w)],
        "source string, weight double",
    )
    return out.orderBy(F.desc("weight"), "source")
