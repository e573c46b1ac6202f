"""BM25 ranked retrieval over a tokenized document corpus.

Training-data curation pipelines rank documents against a query term set
(quality probes, contamination probes, topical slices).  This is the
batch retrieval shape: tokenize → per-doc term frequencies for the query
terms only → document frequencies → Okapi BM25 with the Lucene idf
variant ``ln(1 + (N - df + 0.5)/(df + 0.5))``.

Scale posture (100 TB): the token explode is a narrow map; the tf
aggregation shuffles only (doc_id, term) pairs for the |Q| query terms —
a tiny fraction of the corpus — and doc lengths aggregate map-side.  The
df/avgdl aggregates are |Q|-row and 1-row frames joined by broadcast, so
the only full shuffle is the per-doc score combine on doc_id.  No UDFs;
everything stays in whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paas_auditor_spark.functions import text as tx


def bm25_scores(
    docs: DataFrame,
    query_terms: Sequence[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document BM25 score for ``query_terms``; one row per matching
    document: (id_col, score)."""
    # Tokenize ONCE and checkpoint the token arrays: doc length is then a
    # narrow size() over the array (the explode+groupBy formulation
    # re-shuffled every token to count them), and the query-term explode
    # reads the same materialized base instead of re-running the regex
    # tokenizer over the corpus.  N is counted over the DOCS relation,
    # not doclen: tokenization yields NULL for NULL text, and BM25's N
    # (like the oracle's count(*) FROM documents) counts every document
    # in the corpus; avgdl is over documents that HAVE tokens, matching
    # the oracle's doclen CTE.  Two bounded driver actions (a count and
    # a 1-row collect), both scalar.
    toked = docs.select(
        F.col(id_col), tx.tokens(F.lower(F.col(text_col))).alias("toks")
    ).localCheckpoint(eager=False)
    doclen = toked.filter(F.col("toks").isNotNull()).select(
        F.col(id_col), F.size("toks").alias("dl")
    )
    toks = toked.select(F.col(id_col), F.explode("toks").alias("term"))
    # N and avgdl stay IN-PLAN as broadcast 1-row cross joins (no driver
    # collect, no extra job round-trips); CAST to double mirrors the
    # float() the collected formulation applied
    n_df = docs.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    avgdl_df = doclen.agg(F.avg("dl").alias("_avgdl"))

    qterms = [t.lower() for t in query_terms]
    qtoks = toks.filter(F.col("term").isin(qterms))
    tf = qtoks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = qtoks.groupBy("term").agg(F.countDistinct(id_col).alias("df"))

    idf = F.log(
        F.lit(1.0) + (F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    # df_ is |Q|-row → broadcast; doclen is corpus-sized → shuffle join on
    # the id (both sides already hash on it from their aggregations)
    per_term = (
        tf.join(F.broadcast(df_), "term")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(n_df))
        .crossJoin(F.broadcast(avgdl_df))
        .select(
            id_col,
            (
                idf
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("_avgdl"))
                )
            ).alias("term_score"),
        )
    )
    return per_term.groupBy(id_col).agg(
        F.sum("term_score").alias("score")
    )


def phrase_search(
    docs: DataFrame,
    phrase: Sequence[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-phrase retrieval via positional postings — the capability
    ``inverted_index``'s term→doc postings can't express (it proves a
    doc contains every term, not that they are ADJACENT IN ORDER).
    Classic positional-index query (Manning et al., IIR §2.4): build
    (doc, term, pos) postings, seed with the first term's positions,
    and chain one equi-join per remaining term on
    (doc, pos = seed_pos + offset).  Overlapping occurrences count
    separately ("a a a" matches "a a" twice).

    Returns one row per matching document: (id_col, n_matches,
    first_pos), first_pos 0-based.

    Scale posture (100 TB): each join arm filters ``term == phrase[i]``
    BEFORE joining — with the postings relation term-partitioned on
    disk (the inverted-index layout) each arm is a pruned scan of one
    term's postings, so join input is the phrase terms' posting lists,
    never the corpus; the joins key on (doc, pos) and the final
    aggregate shuffles only matching (doc, p0) pairs.  Everything is
    whole-stage codegen — no UDF, no window."""
    if not phrase:
        raise ValueError("phrase_search needs at least one term")
    toks = docs.select(
        F.col(id_col),
        F.posexplode(tx.tokens(F.lower(F.col(text_col)))).alias(
            "pos", "term"
        ),
    )
    cur = toks.filter(F.col("term") == phrase[0].lower()).select(
        F.col(id_col).alias("_doc"), F.col("pos").alias("p0")
    )
    for offset, term in enumerate(phrase[1:], 1):
        arm = toks.filter(F.col("term") == term.lower()).select(
            F.col(id_col).alias("_adoc"), F.col("pos").alias("_apos")
        )
        cur = cur.join(
            arm,
            (cur["_doc"] == arm["_adoc"])
            & (arm["_apos"] == cur["p0"] + offset),
        ).select("_doc", "p0")
    return (
        cur.groupBy("_doc")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("p0").alias("first_pos"),
        )
        .select(F.col("_doc").alias(id_col), "n_matches", "first_pos")
        .orderBy(id_col)
    )


def ql_scores(
    docs: DataFrame,
    query_terms: Sequence[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    mu: float = 100.0,
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty 2001) — the language-modeling counterpart to BM25:

        score(d) = Σ_t log( (tf(t,d) + μ·P(t|C)) / (dl(d) + μ) )

    with the collection model P(t|C) = cf(t)/|C|.  Unlike BM25 a
    document scores on EVERY query term (absent terms contribute the
    smoothed collection probability), so ranking covers the whole
    corpus, and μ trades document evidence against the collection
    prior (μ ≈ mean doc length here).

    Scale posture mirrors ``bm25_scores``: one checkpointed tokenize,
    query-term tf is the only corpus-keyed shuffle, cf/|C| ride as
    |Q|-row / 1-row broadcasts; the per-(doc, term) frame is doclen ×
    |Q| via a broadcast cross join with tf LEFT-joined on — no UDFs,
    whole-stage codegen throughout.  Returns (id_col, score) for every
    document with tokens."""
    toked = docs.select(
        F.col(id_col), tx.tokens(F.lower(F.col(text_col))).alias("toks")
    ).localCheckpoint(eager=False)
    doclen = toked.filter(F.col("toks").isNotNull()).select(
        F.col(id_col), F.size("toks").alias("dl")
    )
    toks = toked.select(F.col(id_col), F.explode("toks").alias("term"))

    qterms = [t.lower() for t in query_terms]
    qtoks = toks.filter(F.col("term").isin(qterms))
    tf = qtoks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    cf = qtoks.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    total = toks.agg(F.count(F.lit(1)).cast("double").alias("_ct"))
    # every query term must appear in the frame even when cf would be
    # 0 (log of the pure prior would be -inf; such terms are dropped
    # with a documented epsilon-free contract: a term absent from the
    # whole collection contributes no evidence to ANY ranking order)
    per = (
        doclen.crossJoin(F.broadcast(cf))
        .join(tf, [id_col, "term"], "left")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.log(
                (
                    F.coalesce(F.col("tf"), F.lit(0)).cast("double")
                    + F.lit(mu) * (F.col("cf") / F.col("_ct"))
                )
                / (F.col("dl") + F.lit(mu))
            ).alias("term_score"),
        )
    )
    return per.groupBy(id_col).agg(F.sum("term_score").alias("score"))


def postings_collector(
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch hook for an INCREMENTALLY MAINTAINED inverted index
    — the retrieval member of the collector family (hist_collector /
    lm_counts_collector): each micro-batch of newly ingested documents
    lands its own (term, doc_id, tf) postings plus a (doc_id, dl)
    doc-length relation, and ``bm25_from_postings`` scores queries off the
    accumulated index WITHOUT ever re-tokenizing a landed document.
    Both relations are mergeable by construction: a document lives in
    exactly one batch (append-only corpus — re-ingesting an id is the
    caller's dedup bug, same contract as the bronze table), so tf/dl
    rows concatenate, df is a countDistinct over the union, and N/avgdl
    are one aggregate over the doc-length union.

    The two relations commit as ONE batch directory (``batch-<id>/
    postings`` + ``batch-<id>/doclens``) under the shared atomic commit
    protocol (operators/atomic.py), because a batch whose postings
    landed but whose doc-lengths didn't would score its documents with
    a wrong N/avgdl —
    the torn state the whole-batch commit exists to prevent.  Replay is
    the additive-relation correctness mechanism, exactly as for counts:
    a replayed batch finds its committed directory and writes nothing
    (tf rows would double-count).

    100 TB posture: the index is term-keyed parquet, so a probe for |Q|
    terms is a scan with ``term IN (...)`` PUSHED to the parquet reader
    (row groups without the probed terms never leave disk — the
    inverted-index property, plan-asserted in test_ranking_quantize) —
    the corpus itself is never touched at query time."""
    from paas_auditor_spark.operators.atomic import commit_batch_dir

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        def write(tmp: str) -> None:
            toked = batch_df.select(
                F.col(id_col),
                tx.tokens(F.lower(F.col(text_col))).alias("toks"),
            ).localCheckpoint(eager=False)
            # dl NULL for token-less docs (explicit when(): size(NULL)'s
            # result is config-dependent): they still count toward N
            # (bm25_scores' N = all docs) but not toward avgdl
            toked.select(
                F.col(id_col),
                F.when(
                    F.col("toks").isNotNull(), F.size("toks")
                ).alias("dl"),
            ).write.parquet(f"{tmp}/doclens")
            (
                toked.select(F.col(id_col), F.explode("toks").alias("term"))
                .groupBy("term", id_col)
                .agg(F.count(F.lit(1)).alias("tf"))
                .write.parquet(f"{tmp}/postings")
            )

        commit_batch_dir(path, batch_id, write)

    return write_batch


def bm25_from_postings(
    spark,
    path: str,
    query_terms: Sequence[str],
    *,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    tombstone_path: str | None = None,
) -> DataFrame:
    """Okapi BM25 over a ``postings_collector`` index — value-identical
    to ``bm25_scores`` over the union corpus (test-pinned), but the
    corpus text is never read: tf comes from the term-pruned postings
    scan, dl/N/avgdl from the doc-length relation, df from a
    countDistinct over the probed postings.  Same Lucene idf variant,
    same |Q|-row broadcasts, one doc-keyed shuffle.

    ``tombstone_path`` (optional) points at a ``tombstones_collector``
    dataset of deleted doc ids: both index relations are anti-joined
    before ANY statistic, so a takedown leaves scores value-identical
    to an index that never held the document — N, avgdl, df and tf all
    exclude it (test-pinned), not just the result rows.  The no-deletes
    path is branch-free (no anti-join in the plan at all)."""
    from paas_auditor_spark.operators.atomic import (
        anti_join_tombstones,
        batch_data_paths,
        tombstone_ids,
    )

    from paas_auditor_spark.sources.tables import read_parquet_cached

    postings = read_parquet_cached(spark, *batch_data_paths(path, "postings"))
    doclens = read_parquet_cached(spark, *batch_data_paths(path, "doclens"))
    if tombstone_path is not None:
        doomed = tombstone_ids(spark, tombstone_path)
        postings = anti_join_tombstones(postings, doomed, id_col)
        doclens = anti_join_tombstones(doclens, doomed, id_col)

    qterms = [t.lower() for t in query_terms]
    tf = postings.filter(F.col("term").isin(qterms))
    df_ = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    stats = doclens.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg("dl").alias("_avgdl"),
    )
    doclen = doclens.filter(F.col("dl").isNotNull())
    idf = F.log(
        F.lit(1.0) + (F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    per_term = (
        tf.join(F.broadcast(df_), "term")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            (
                idf
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("_avgdl"))
                )
            ).alias("term_score"),
        )
    )
    return per_term.groupBy(id_col).agg(
        F.sum("term_score").alias("score")
    )
