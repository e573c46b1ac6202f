"""Dedup-family correctness on constructed fixtures: exact dups, near dups
(small edits), and unrelated docs — the properties the sf* documents table
(all-distinct) cannot exercise."""

from __future__ import annotations

import pytest

from paas_auditor_spark.operators import dedup

DOCS = [
    # 0 and 1: exact duplicates modulo case/whitespace
    (0, "The quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick  brown fox jumps over the lazy dog near the river bank today"),
    # 2: near-duplicate of 0 (one word changed)
    (2, "The quick brown fox jumps over the lazy cat near the river bank today"),
    # 3: unrelated
    (3, "Completely different content about distributed query engines and shuffles"),
    # 4: another near-dup of 0 (word appended)
    (4, "The quick brown fox jumps over the lazy dog near the river bank today again"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_duplicates(docs_df):
    groups = {r["keep_id"]: r["n_copies"] for r in dedup.exact_duplicates(docs_df).collect()}
    assert groups[0] == 2  # docs 0 and 1 collapse
    assert groups[2] == 1 and groups[3] == 1 and groups[4] == 1


def test_minhash_near_duplicates(docs_df):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_near_duplicates(docs_df, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # identical shingle sets
    assert (0, 2) in pairs or (0, 4) in pairs  # near-dups surface
    assert all(3 not in p for p in pairs)  # unrelated doc never pairs


def test_jaccard_exact_values(spark, docs_df):
    pairs = spark.createDataFrame([(0, 1), (0, 3)], ["id_a", "id_b"])
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dedup.jaccard_pairs(docs_df, pairs).collect()}
    assert j[(0, 1)] == 1.0
    assert j[(0, 3)] == 0.0


def test_simhash_near_duplicates(docs_df):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs_df).collect()}
    assert sh[0] == sh[1]  # identical normalized token sets
    ham_02 = bin(sh[0] ^ sh[2]).count("1")
    ham_03 = bin(sh[0] ^ sh[3]).count("1")
    assert ham_02 < ham_03  # near-dup closer than unrelated


def test_minhash_signature_shape(docs_df):
    sigs = dedup.minhash_signatures(docs_df).collect()
    assert all(len(r["signature"]) == 32 for r in sigs)
    by_id = {r["doc_id"]: r["signature"] for r in sigs}
    assert by_id[0] == by_id[1]  # identical docs → identical signatures
    agree = sum(a == b for a, b in zip(by_id[0], by_id[2]))
    assert agree > 16  # near-dup signatures mostly agree


def test_connected_components_chain_and_isolates(spark):
    # two components: {1,2,3,4} (chain) and {7,8}; 9 isolated via nodes df
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(n,) for n in [1, 2, 3, 4, 7, 8, 9]], ["node"])
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components(edges, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7, 9: 9}


def test_star_cc_matches_minlabel_on_random_graph(spark):
    """Large-star/small-star must produce identical components to the
    min-label operator on an arbitrary (multi-component, cyclic) graph."""
    import random

    rng = random.Random(5)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    edf = spark.createDataFrame(edges, ["id_a", "id_b"])
    nodes = spark.createDataFrame([(n,) for n in range(200)], ["node"])
    want = {
        r["node"]: r["component"]
        for r in dedup.connected_components(edf, nodes=nodes).collect()
    }
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components_star(edf, nodes=nodes).collect()
    }
    assert got == want


def test_star_cc_converges_on_long_path(spark):
    """VERDICT r04 item 5 done-criterion: a 500-node path graph (diameter
    499 — min-label would need 499 rounds) must converge well under
    max_iter and equal the trivially-known answer (all nodes → 0)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(499)], ["id_a", "id_b"]
    )
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components_star(edges, max_iter=15).collect()
    }
    assert got == {i: 0 for i in range(500)}


def test_star_cc_isolated_nodes_and_empty_edges(spark):
    edges = spark.createDataFrame([(7, 8)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(n,) for n in [7, 8, 9]], ["node"])
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components_star(edges, nodes=nodes).collect()
    }
    assert got == {7: 7, 8: 7, 9: 9}


def test_connected_components_without_nodes_df(spark):
    edges = spark.createDataFrame([(5, 3), (3, 1)], ["id_a", "id_b"])
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {1: 1, 3: 1, 5: 1}


def test_interval_join_containment_pairs(spark):
    """Binned interval join returns exactly the BETWEEN-containment pairs,
    each once — including intervals spanning multiple bins and events on
    interval boundaries."""
    import datetime as dt

    from paas_auditor_spark.operators.rangejoin import interval_join

    base = dt.datetime(2024, 5, 1, 0, 0, 0)
    ev = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=30 * i)) for i in range(12)],
        "event_id long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [
            (1, base, base + dt.timedelta(hours=1)),          # 3 events (0,1,2)
            (2, base + dt.timedelta(hours=2, minutes=30),
                base + dt.timedelta(hours=5)),                # events 5..10
            (3, base + dt.timedelta(hours=10), base + dt.timedelta(hours=11)),  # none
        ],
        "iv_id long, start timestamp, end timestamp",
    )
    got = interval_join(ev, iv, "ts", "start", "end", bin_width_s=3600)
    pairs = sorted((r["iv_id"], r["event_id"]) for r in got.collect())
    assert pairs == (
        [(1, 0), (1, 1), (1, 2)] + [(2, e) for e in range(5, 11)]
    )


def test_incremental_minhash_gates_new_batch(spark):
    """New-batch docs near-duplicating an INDEXED doc are flagged with
    the right index partner; novel docs pass through unflagged."""
    from paas_auditor_spark.operators.dedup import (
        minhash_near_duplicates,
        minhash_near_duplicates_incremental,
    )

    base = ("the quick brown fox jumps over the lazy dog "
            "while the rain in spain falls mainly on the plain "
            "and colorless green ideas sleep furiously tonight")
    # index: ids 1-3; new batch: ids 101-103
    index_rows = [
        (1, base),
        (2, "completely different content about database engines and "
            "distributed query processing with columnar storage formats"),
        (3, "a third unrelated document mentioning neither foxes nor "
            "databases but entirely other topics like cooking recipes"),
    ]
    new_rows = [
        (101, base + " extra"),          # near-dup of index doc 1
        (102, "novel text about orchestration of spark streaming jobs "
              "with watermarks and stateful operators in micro batches"),
        (103, base),                      # exact dup of index doc 1
    ]
    index = spark.createDataFrame(index_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])

    got = minhash_near_duplicates_incremental(
        new, index, threshold=0.5
    ).collect()
    flagged = {(r["id_a"], r["id_b"]) for r in got}
    assert (101, 1) in flagged and (103, 1) in flagged
    assert all(a in (101, 103) and b == 1 for a, b in flagged)

    # parity: the incremental gate finds exactly the cross-pairs the
    # batch self-join finds over the union (restricted to new x index)
    union = index.unionByName(new)
    batch = minhash_near_duplicates(union, threshold=0.5).collect()
    cross = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]))
        for r in batch
        if (r["id_a"] >= 100) != (r["id_b"] >= 100)
    }
    assert flagged == cross


def test_incremental_minhash_gate_md5_hash_threading(spark):
    """hash_fn reaches BOTH sides of the incremental gate: under the
    closed-form md5 shingle hash the gate finds the same cross-pairs the
    md5 batch pipeline finds over the union (a side defaulting back to
    xxhash64 would band-match nothing and return empty)."""
    from paas_auditor_spark.operators.dedup import (
        minhash_near_duplicates,
        minhash_near_duplicates_incremental,
    )

    base = ("the quick brown fox jumps over the lazy dog "
            "while the rain in spain falls mainly on the plain")
    index = spark.createDataFrame(
        [(1, base), (2, "unrelated text about columnar storage formats "
                        "and vectorized execution in analytic engines")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(101, base + " extra"), (102, base)], ["doc_id", "text"]
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates_incremental(
            new, index, threshold=0.5, hash_fn="md5"
        ).collect()
    }
    assert (101, 1) in got and (102, 1) in got
    batch = minhash_near_duplicates(
        index.unionByName(new), threshold=0.5, hash_fn="md5"
    ).collect()
    cross = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]))
        for r in batch
        if (r["id_a"] >= 100) != (r["id_b"] >= 100)
    }
    assert got == cross


def test_duplicate_spans_hand_graph(spark):
    """Two docs sharing one 8-token sentence: exactly those 8 positions
    are covered in each; a doc with an internal repeat marks both
    occurrences; overlapping grams don't double-count."""
    from paas_auditor_spark.operators.dedup import duplicate_spans

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (1, shared + " one two three"),
        (2, "x y z " + shared),
        # 9 tokens repeated twice → grams at offsets 0..1 and 9..10 dup
        (3, "p q r s t u v w a p q r s t u v w a"),
        (4, "totally unique words only nine tokens here right now"),
        (5, "short text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_frac"])
        for r in duplicate_spans(df, k=8).collect()
    }
    assert got[1] == (11, 8, round(8 / 11, 4))
    assert got[2] == (11, 8, round(8 / 11, 4))
    # doc 3: every 8-gram of the repeated 9-token block occurs twice;
    # all 18 positions are covered
    assert got[3] == (18, 18, 1.0)
    assert got[4] == (9, 0, 0.0)
    assert got[5] == (2, 0, 0.0)  # shorter than k → no grams


def test_remove_duplicate_spans_excises_measured_coverage(spark):
    """The removal twin must excise EXACTLY the positions the measure
    counts: kept_tokens == n_tokens - dup_tokens doc-by-doc, the fully
    duplicated doc comes back empty, untouched docs come back as their
    normalized token join, and cleaned text preserves original token
    order across excised gaps."""
    from paas_auditor_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (1, shared + " one two three"),
        (2, "x y z " + shared),
        (3, "p q r s t u v w a p q r s t u v w a"),
        (4, "Totally Unique Words only nine tokens here right now"),
        (5, "short text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    measured = {
        r["doc_id"]: r for r in duplicate_spans(df, k=8).collect()
    }
    cleaned = {
        r["doc_id"]: r for r in remove_duplicate_spans(df, k=8).collect()
    }
    for i in measured:
        assert cleaned[i]["n_tokens"] == measured[i]["n_tokens"]
        assert (
            cleaned[i]["kept_tokens"]
            == measured[i]["n_tokens"] - measured[i]["dup_tokens"]
        )
    assert cleaned[1]["cleaned_text"] == "one two three"
    assert cleaned[2]["cleaned_text"] == "x y z"
    assert cleaned[3]["cleaned_text"] == ""  # fully duplicated
    # untouched doc: token-normalized (lowered) original
    assert (
        cleaned[4]["cleaned_text"]
        == "totally unique words only nine tokens here right now"
    )
    assert cleaned[5]["cleaned_text"] == "short text"


def test_banding_parameter_guards(spark):
    """num_bands must divide num_hashes: 0 rows per band folds every
    band key to the same constant (the all-pairs blowup LSH exists to
    avoid), and a ragged split silently drops trailing hashes."""
    import pytest

    from paas_auditor_spark.operators.dedup import minhash_candidates

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="multiple of"):
        minhash_candidates(docs, num_hashes=8, num_bands=16).count()
    with pytest.raises(ValueError, match="multiple of"):
        minhash_candidates(docs, num_hashes=32, num_bands=10).count()


def test_connected_components_raises_on_non_convergence(spark):
    """A chain longer than max_iter must fail loudly — a silently split
    component would make downstream keep-min-id dedup keep duplicates."""
    import pytest

    from paas_auditor_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=3)


def test_exact_duplicates_string_ids(spark):
    """keep_id preserves the caller's id type — string guids (the
    engine's own ingest keyspace) must not null out via a long cast."""
    from paas_auditor_spark.operators.dedup import exact_duplicates

    df = spark.createDataFrame(
        [("g-b", "same text"), ("g-a", "same text"), ("g-c", "other")],
        "guid string, text string",
    )
    got = {
        r["keep_id"]: r["n_copies"]
        for r in exact_duplicates(df, id_col="guid").collect()
    }
    assert got == {"g-a": 2, "g-c": 1}


def test_minhash_recall_floor_vs_exact_jaccard(spark, sf_dir):
    """Pin the 24/12 banding's RECALL against ground truth, not just its
    precision: the exact-verify step only removes false candidates, so a
    recall regression (e.g. a banding bug folding bands together) is
    invisible to every other minhash test.  Ground truth = brute-force
    exact Jaccard over all pairs at sf0.001; theoretical recall at
    j=0.5 is ~0.97 and rises steeply above it, so 0.9 is a floor that
    catches breakage without flaking on the corpus."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    found = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_duplicates(
            docs, threshold=0.5, num_hashes=24, num_bands=12
        ).collect()
    }
    # brute-force ground truth: every pair, exact hashed-shingle Jaccard
    sets_df = dedup.hashed_shingle_sets(docs)
    ids = sets_df.select(F.col("doc_id").alias("id_a"))
    all_pairs = ids.join(
        sets_df.select(F.col("doc_id").alias("id_b")),
        F.col("id_a") < F.col("id_b"),
    )
    truth = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs_hashed(sets_df, all_pairs)
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    }
    assert truth, "fixture must contain at least one true near-dup pair"
    recovered = len(found & truth)
    assert found <= truth  # precision 1.0: verify step guarantees it
    assert recovered / len(truth) >= 0.9


def test_dedup_pipeline_full_invariants(spark, sf_dir):
    """The end-to-end minhash→starCC→keep-best composition must keep its
    accounting exact: kept + removed = corpus per source, every
    multi-doc cluster loses all but exactly one member, and each
    survivor is its cluster's max-token (min-id on ties) doc."""
    import pyspark.sql.functions as F

    from paas_auditor_spark.operators import dedup
    from paas_auditor_spark.functions import text as tx
    from paas_auditor_spark.queries import q_dedup_pipeline_full
    from paas_auditor_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    summary = q_dedup_pipeline_full(spark, sf_dir).collect()
    per_source = {
        r["source"]: (r["n_docs"], r["n_removed"], r["n_kept"])
        for r in summary
    }
    true_counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert set(per_source) == set(true_counts)
    for src, (n, rem, kept) in per_source.items():
        assert n == true_counts[src]
        assert rem + kept == n and rem >= 0

    # re-derive the clusters and check one-winner-per-cluster accounting
    edges = dedup.minhash_near_duplicates(docs, threshold=0.5).select(
        "id_a", "id_b"
    )
    cc = dedup.connected_components_star(edges, src="id_a", dst="id_b")
    sizes = cc.groupBy("component").agg(F.count("*").alias("m"))
    n_multi = sizes.filter(F.col("m") > 1).count()
    n_members = (
        sizes.filter(F.col("m") > 1)
        .agg(F.sum("m").alias("s"))
        .collect()[0]["s"]
        or 0
    )
    total_removed = sum(rem for _, rem, _ in per_source.values())
    assert total_removed == n_members - n_multi


def test_duplicate_spans_128bit_hash_agrees_with_64(spark, sf_dir):
    """The 128-bit gram-hash setting (true-100 TB collision odds) must
    change ONLY the key width: coverage and removal results are
    identical to the 64-bit default wherever neither collides — i.e.
    everywhere at test scale."""
    from paas_auditor_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )
    from paas_auditor_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = duplicate_spans(docs, k=8).orderBy("doc_id").toPandas()
    b = duplicate_spans(docs, k=8, hash_bits=128).orderBy("doc_id").toPandas()
    assert a.values.tolist() == b.values.tolist()
    ra = remove_duplicate_spans(docs, k=8).orderBy("doc_id").toPandas()
    rb = remove_duplicate_spans(docs, k=8, hash_bits=128).orderBy(
        "doc_id"
    ).toPandas()
    assert ra.values.tolist() == rb.values.tolist()

    import pytest

    with pytest.raises(ValueError, match="hash_bits"):
        duplicate_spans(docs, k=8, hash_bits=96).collect()


def test_minhash_mega_duplicate_flood_bounded(spark):
    """The r8-verdict planted test: one text duplicated 10⁴ times must
    flow through banding as ONE representative — bounded candidate rows,
    not ~5×10⁷ within-bucket pairs.  identical_edges='star' keeps the
    output itself linear: exactly n−1 (rep, member) edges plus the
    unrelated docs contributing nothing."""
    n = 10_000
    boiler = "breaking news boilerplate footer subscribe to our newsletter now"
    rows = [(i, boiler) for i in range(n)] + [
        (n, "totally unrelated content about spark shuffle partitions"),
        (n + 1, "another distinct document mentioning catalyst optimizer"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    # candidate stage: the flood collapses to one representative, so the
    # star-form candidate set is exactly the 9999 intra-group edges
    sigs = dedup.minhash_signatures(docs, num_hashes=8, shingle_k=3)
    cands = dedup.minhash_candidates(
        sigs, num_hashes=8, num_bands=4, identical_edges="star"
    )
    assert cands.count() == n - 1

    out = dedup.minhash_near_duplicates(
        docs, threshold=0.5, num_hashes=8, num_bands=4, identical_edges="star"
    ).collect()
    assert len(out) == n - 1
    assert all(r["id_a"] == 0 and r["jaccard"] == 1.0 for r in out)


def test_minhash_star_vs_all_component_equality(docs_df):
    """identical_edges='star' must yield the same connected components as
    the quadratic 'all' pair list (what the cluster/pipeline queries rely
    on when they switch to star edges)."""
    comp = {}
    for mode in ("all", "star"):
        edges = dedup.minhash_near_duplicates(
            docs_df, threshold=0.5, identical_edges=mode
        ).select("id_a", "id_b")
        cc = dedup.connected_components(edges, src="id_a", dst="id_b")
        comp[mode] = {r["node"]: r["component"] for r in cc.collect()}
    assert comp["all"] == comp["star"]


def test_minhash_bucket_cap_drops_are_audited(spark):
    """A near-identical flood of DISTINCT contents (the salted-copy crawl
    shape) overflows band buckets; a low max_bucket drops those buckets —
    never fabricating pairs (capped ⊆ uncapped) — and minhash_bucket_audit
    quantifies exactly what the cap would discard."""
    base = (
        "the common boilerplate paragraph that every mirror of this page "
        "shares word for word across the entire crawl snapshot"
    )
    rows = [(i, f"{base} variant{i}") for i in range(12)]
    rows += [(100, "completely different text about something else entirely")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_duplicates(
            docs, threshold=0.5, num_hashes=8, num_bands=4, max_bucket=None
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_duplicates(
            docs, threshold=0.5, num_hashes=8, num_bands=4, max_bucket=4
        ).collect()
    }
    assert uncapped  # the flood really does produce near-dup pairs
    assert capped <= uncapped  # the cap only removes, never invents
    assert len(capped) < len(uncapped)  # at cap=4 the 12-member buckets drop

    audit = dedup.minhash_bucket_audit(
        docs, num_hashes=8, num_bands=4, max_bucket=4
    ).collect()
    assert len(audit) == 4  # one row per band
    assert sum(r["n_dropped_rows"] for r in audit) > 0
    assert max(r["max_occupancy"] for r in audit) > 4
    # with the cap above the flood size nothing is dropped
    audit_hi = dedup.minhash_bucket_audit(
        docs, num_hashes=8, num_bands=4, max_bucket=4096
    ).collect()
    assert sum(r["n_dropped_buckets"] for r in audit_hi) == 0


def test_minhash_collapse_preserves_pair_list(spark):
    """With groups of exact duplicates present, the default ('all')
    output must be byte-identical to the semantics before the collapse
    guard: every within-group pair at jaccard 1.0 plus every cross-group
    near-dup pair, each exactly once."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 0
        (5, "alpha  BETA gamma delta epsilon zeta eta theta"),  # dup of 0
        (2, "alpha beta gamma delta epsilon zeta eta iota"),  # near-dup
        (3, "unrelated words entirely disjoint from the others here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_near_duplicates(
            docs, threshold=0.4, num_hashes=16, num_bands=8
        ).collect()
    }
    # within-group pairs all present at 1.0, exactly once each
    assert got[(0, 1)] == 1.0 and got[(0, 5)] == 1.0 and got[(1, 5)] == 1.0
    # cross-group near-dup expands to every member of the identical group
    assert (0, 2) in got and (1, 2) in got and (2, 5) in got
    assert got[(0, 2)] == got[(1, 2)] == got[(2, 5)]
    assert all(3 not in p for p in got)


def test_banding_pair_plan_has_no_distinct(docs_df):
    """Pin the first-shared-band claim structurally: the candidate-pair
    plan must contain NO deduplication node — each pair leaves the band
    join exactly once via the prior-keys filter, so a reintroduced
    .distinct() (whose shuffle volume is pairs × matching-bands, the
    r8 scale-killer) fails here, not in the next 100× rehearsal."""
    sets_df = dedup.hashed_shingle_sets(docs_df)
    banded = dedup._banded_from_sets(sets_df, "doc_id", 24, 12)
    pairs = dedup._pairs_from_banded(
        banded, banded, "doc_id", self_join=True, max_bucket=4096
    )
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "Deduplicate" not in plan
    # and the guards ARE in the plan: one window (occupancy cap) and the
    # first-shared-band zip_with filter
    assert "Window" in plan
    assert "zip_with" in plan


def test_minhash_persisted_index_gate_equals_inmemory(spark, tmp_path):
    """The persisted band index (minhash_index_collector) must gate a
    new batch value-identically to the in-memory incremental operator
    over the same corpus, through batch replay AND generic compaction —
    the equality pin every persisted family carries (bm25/bloom/LM/IVF
    convention; r9 adds the dedup member)."""
    from paas_auditor_spark.operators.atomic import compact_batches
    from paas_auditor_spark.operators.dedup import (
        minhash_incremental_persisted,
        minhash_index_collector,
        minhash_near_duplicates_incremental,
    )

    base = [
        (100 + i, f"the quick brown fox number {i} jumps over the lazy "
                  f"dog near the river bank today in document {i}")
        for i in range(12)
    ]
    idx1 = spark.createDataFrame(base[:6], ["doc_id", "text"])
    idx2 = spark.createDataFrame(base[6:], ["doc_id", "text"])
    # new batch: salted near-dups of indexed docs 100/103/107 + noise
    new = spark.createDataFrame(
        [
            (1, base[0][1] + " extra"),
            (2, base[3][1] + " extra words appended"),
            (3, base[7][1].replace("lazy", "sleepy")),
            (4, "completely unrelated content about query optimizers"),
        ],
        ["doc_id", "text"],
    )

    path = str(tmp_path / "mh_index")
    hook = minhash_index_collector(path, num_hashes=24, num_bands=12)
    hook(idx1, 0)
    hook(idx2, 1)
    hook(spark.createDataFrame([(999, "junk")], ["doc_id", "text"]), 1)
    # ^ replayed batch id: must be a no-op (999 never enters the index)

    def rows(df):
        return [
            (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
        ]

    want = rows(
        minhash_near_duplicates_incremental(
            new, idx1.unionByName(idx2),
            threshold=0.5, num_hashes=24, num_bands=12,
        )
    )
    assert want  # the salted siblings really gate
    assert all(b != 999 for _, b, _ in want)
    got = rows(
        minhash_incremental_persisted(
            spark, path, new, threshold=0.5, num_hashes=24, num_bands=12
        )
    )
    assert got == want

    # generic compaction of the three-part batches changes nothing
    assert compact_batches(
        spark, path, parts=("collapse", "bands", "sets")
    ) == 2
    got2 = rows(
        minhash_incremental_persisted(
            spark, path, new, threshold=0.5, num_hashes=24, num_bands=12
        )
    )
    assert got2 == want

    # the MATERIALIZING fold (r10): same values, probe now reads the
    # stored collapse/flags instead of re-aggregating the index
    from paas_auditor_spark.operators.dedup import minhash_fold

    assert minhash_fold(spark, path) == 1
    got3 = rows(
        minhash_incremental_persisted(
            spark, path, new, threshold=0.5, num_hashes=24, num_bands=12
        )
    )
    assert got3 == want

    # append MORE batches after the fold: the probe reconciles the
    # unfolded delta against the folded artifacts — still exact
    more = [
        (300 + i, f"entirely fresh subject matter piece {i} about "
                  f"distributed query engines and storage layers {i}")
        for i in range(3)
    ] + [(310, base[0][1])]  # exact copy of doc 100: cross-fold dup group
    hook(spark.createDataFrame(more, ["doc_id", "text"]), 2)
    want_after = rows(
        minhash_near_duplicates_incremental(
            new,
            idx1.unionByName(idx2).unionByName(
                spark.createDataFrame(more, ["doc_id", "text"])
            ),
            threshold=0.5, num_hashes=24, num_bands=12,
        )
    )
    got4 = rows(
        minhash_incremental_persisted(
            spark, path, new, threshold=0.5, num_hashes=24, num_bands=12
        )
    )
    assert got4 == want_after
    # 310 is an exact copy of 100 (folded rep): the delta member joins
    # the folded group and the fan-out covers BOTH members
    partners_of_1 = {b for a, b, _ in got4 if a == 1}
    assert {100, 310} <= partners_of_1

    # fold again (fold-over-fold + raw delta through mergeSchema)
    assert minhash_fold(spark, path) == 2
    got5 = rows(
        minhash_incremental_persisted(
            spark, path, new, threshold=0.5, num_hashes=24, num_bands=12
        )
    )
    assert got5 == want_after

    # GENERIC compaction after a materializing fold (r10 review pass):
    # one more raw batch, then compact_batches WITHOUT the minhash
    # transform — the new batch-0 mixes folded rows (flags, _global)
    # with raw rows (NULL flags, _global=false); the probe must treat
    # the raw rows as delta and stay exact
    hook(
        spark.createDataFrame(
            [(400, base[1][1])], ["doc_id", "text"]  # copy of doc 101
        ),
        3,
    )
    assert compact_batches(
        spark, path, parts=("collapse", "bands", "sets")
    ) == 2
    want_mixed = rows(
        minhash_near_duplicates_incremental(
            new,
            idx1.unionByName(idx2)
            .unionByName(spark.createDataFrame(more, ["doc_id", "text"]))
            .unionByName(
                spark.createDataFrame([(400, base[1][1])], ["doc_id", "text"])
            ),
            threshold=0.5, num_hashes=24, num_bands=12,
        )
    )
    got6 = rows(
        minhash_incremental_persisted(
            spark, path, new, threshold=0.5, num_hashes=24, num_bands=12
        )
    )
    assert got6 == want_mixed

    # mismatched banding parameters must raise, not silently miss
    with pytest.raises(ValueError, match="num_hashes"):
        minhash_incremental_persisted(
            spark, path, new, threshold=0.5, num_hashes=32, num_bands=16
        ).collect()


def test_minhash_gate_tombstones_and_rep_shift(spark, tmp_path):
    """Deletion support for the persisted near-dup gate: tombstoned ids
    are anti-joined out of the stored sets BEFORE the global collapse,
    so a gated batch matches an index that never held the deleted docs
    (the in-memory operator over the surviving corpus is the truth).
    The adversarial case is pinned explicitly: deleting the MIN-ID
    member of an identical-content group — the group's collapse
    REPRESENTATIVE — must shift representation to the surviving min id
    and keep the group gating (the stored bands cover every id, so the
    new rep's band rows are already on disk).  minhash_fold with the
    tombstone path then physically removes the rows AND re-materializes
    the collapse over survivors; results are unchanged and the raw
    parquet no longer holds the deleted ids.  Run twice: tombstones
    landing BEFORE any fold (delta-only reconciliation) and AFTER a
    fold (the folded-rep kill path — the adversarial case for the
    materialized probe, which must shift representation off the stored
    _is_rep flags in O(|deletes|))."""
    from paas_auditor_spark.operators.atomic import (
        batch_data_paths,
        tombstones_collector,
    )
    from paas_auditor_spark.operators.dedup import (
        minhash_fold,
        minhash_incremental_persisted,
        minhash_index_collector,
        minhash_near_duplicates_incremental,
    )

    boiler = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
              "lambda mu nu xi omicron pi rho sigma tau upsilon shared")
    fox = ("the quick brown fox jumps over the lazy dog near the river "
           "bank today while the rain in spain falls mainly on the plain")
    idx_rows = [
        (100, boiler), (101, boiler), (102, boiler),  # identical group
        (200, fox),
        (201, "completely unrelated content about columnar storage and "
              "vectorized execution in modern analytic database engines"),
    ]
    new = spark.createDataFrame(
        [(1, boiler + " extra"), (2, fox + " extra")], ["doc_id", "text"]
    )
    path = str(tmp_path / "mh_idx")
    tomb = str(tmp_path / "mh_tomb")
    hook = minhash_index_collector(path, num_hashes=24, num_bands=12)
    hook(spark.createDataFrame(idx_rows[:3], ["doc_id", "text"]), 0)
    hook(spark.createDataFrame(idx_rows[3:], ["doc_id", "text"]), 1)

    def gate(**kw):
        return sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in minhash_incremental_persisted(
                spark, path, new, threshold=0.5,
                num_hashes=24, num_bands=12, **kw
            ).collect()
        )

    def want(rows):
        idx = spark.createDataFrame(rows, ["doc_id", "text"])
        return sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in minhash_near_duplicates_incremental(
                new, idx, threshold=0.5, num_hashes=24, num_bands=12
            ).collect()
        )

    full = want(idx_rows)
    assert {b for _, b, _ in full} == {100, 101, 102, 200}
    assert gate(tombstone_path=tomb) == full  # empty tombstones: no-op

    # FOLD FIRST, then delete: the folded-rep kill path — the probe
    # must shift representation off the stored _is_rep flags
    assert minhash_fold(spark, path) == 2
    assert gate(tombstone_path=tomb) == full  # fold alone: no change

    # delete the group REP (100) and the fox doc (200)
    tombstones_collector(tomb)(
        spark.createDataFrame([(100,), (200,)], "doc_id long"), 0
    )
    survivors = [r for r in idx_rows if r[0] not in (100, 200)]
    pruned = want(survivors)
    # rep shift: the group still gates through 101/102; fox is gone
    assert {b for _, b, _ in pruned} == {101, 102}
    assert gate(tombstone_path=tomb) == pruned

    # physical removal at fold time: raw sets no longer hold 100/200,
    # the gate result is unchanged, and a read WITHOUT the tombstone
    # path now matches too (the collapse was re-materialized over
    # survivors, so 101 is now the stored representative)
    assert minhash_fold(spark, path, tombstone_path=tomb) == 1
    stored = {
        r["doc_id"]
        for r in spark.read.parquet(
            *batch_data_paths(path, "sets")
        ).collect()
    }
    assert stored == {101, 102, 201}
    collapse = spark.read.parquet(
        *batch_data_paths(path, "collapse")
    ).collect()
    reps = {r["doc_id"]: r["_rep"] for r in collapse}
    assert reps[101] == 101 and reps[102] == 101  # shifted on disk
    assert all(r["_global"] for r in collapse)
    assert gate(tombstone_path=tomb) == pruned
    assert gate() == pruned


def test_minhash_persisted_gate_bootstrap_and_crossbatch_dups(
    spark, tmp_path
):
    """r9 fix-review: (a) gating against a NOT-YET-CREATED index is the
    streaming loop's normal first-batch state — empty result, not a
    crash; (b) identical content ingested into DIFFERENT index batches
    must collapse GLOBALLY at probe time (via the stored content keys),
    so the result still matches the in-memory operator, which collapses
    the whole corpus at once — without the stored-key collapse the
    occupancy cap would count copies, not contents."""
    from paas_auditor_spark.operators.dedup import (
        minhash_incremental_persisted,
        minhash_index_collector,
        minhash_near_duplicates_incremental,
    )

    path = str(tmp_path / "mh_boot")
    new = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota new")],
        ["doc_id", "text"],
    )
    # (a) bootstrap: no index committed yet
    out = minhash_incremental_persisted(
        spark, path, new, threshold=0.5, num_hashes=24, num_bands=12
    )
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "jaccard"]

    # (b) the SAME boilerplate text lands in three different batches
    # (+ a filler so buckets have company), with a tiny cap that would
    # drop the copies' buckets if occupancy counted rows, not contents
    boiler = "alpha beta gamma delta epsilon zeta eta theta iota shared"
    for bid, ids in enumerate(([100, 101], [102, 103], [104])):
        batch = spark.createDataFrame(
            [(i, boiler) for i in ids]
            + [(i + 50, f"unrelated filler text number {i} entirely")
               for i in ids],
            ["doc_id", "text"],
        )
        minhash_index_collector(path, num_hashes=24, num_bands=12)(
            batch, bid
        )
    idx_df = spark.createDataFrame(
        [(i, boiler) for i in (100, 101, 102, 103, 104)]
        + [(i + 50, f"unrelated filler text number {i} entirely")
           for i in (100, 101, 102, 103, 104)],
        ["doc_id", "text"],
    )
    want = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_near_duplicates_incremental(
            new, idx_df, threshold=0.5, num_hashes=24, num_bands=12,
            max_bucket=3,
        ).collect()
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_incremental_persisted(
            spark, path, new, threshold=0.5, num_hashes=24, num_bands=12,
            max_bucket=3,
        ).collect()
    )
    assert len(want) == 5  # the new doc gates against all 5 copies
    assert got == want


def test_minhash_collector_refuses_parameter_drift(spark, tmp_path):
    """Write-time parameter validation: a hook configured with different
    banding parameters (or hash family) than the batches already
    committed must refuse BEFORE writing — mixed-parameter batches
    would make the probe side's one-row parameter sample unsound and
    band keys silently never match across the drifted boundary."""
    from paas_auditor_spark.operators.dedup import minhash_index_collector

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "mh_index")
    minhash_index_collector(path, num_hashes=24, num_bands=12)(docs, 0)

    docs2 = docs.selectExpr("doc_id + 10 AS doc_id", "text")
    drifted = minhash_index_collector(path, num_hashes=32, num_bands=16)
    with pytest.raises(ValueError, match="mixed parameters"):
        drifted(docs2, 1)

    hashed = minhash_index_collector(
        path, num_hashes=24, num_bands=12, hash_fn="md5"
    )
    with pytest.raises(ValueError, match="mixed parameters"):
        hashed(docs2, 1)

    # same parameters extend fine; replay of the refused ids still works
    minhash_index_collector(path, num_hashes=24, num_bands=12)(docs2, 1)
    from paas_auditor_spark.operators.atomic import batch_data_paths

    assert len(batch_data_paths(path, "bands")) == 2


def test_minhash_gate_pre_upgrade_index_extended(spark, tmp_path):
    """A pre-hash_fn index (bands committed without the hash_fn column)
    extended by post-upgrade batches mixes band schemas: the probe must
    still (a) read the column through the merged schema regardless of
    which file Spark would otherwise sample, (b) treat the legacy
    batch's NULL hash_fn as the xxhash64 it is by construction, and
    (c) refuse an md5 probe against it."""
    from paas_auditor_spark.operators.dedup import (
        minhash_incremental_persisted,
        minhash_index_collector,
        minhash_near_duplicates_incremental,
    )

    base = [
        (100 + i, f"the quick brown fox number {i} jumps over the lazy "
                  f"dog near the river bank today in document {i}")
        for i in range(8)
    ]
    idx1 = spark.createDataFrame(base[:4], ["doc_id", "text"])
    idx2 = spark.createDataFrame(base[4:], ["doc_id", "text"])
    path = str(tmp_path / "mh_index")
    hook = minhash_index_collector(path, num_hashes=24, num_bands=12)
    hook(idx1, 0)
    # simulate the pre-upgrade batch: strip hash_fn from its bands
    # (fresh collectors use the v1 layout: batch dirs directly under path)
    import shutil

    batch0 = f"{path}/batch-0"
    legacy = (
        spark.read.parquet(f"{batch0}/bands").drop("hash_fn").toPandas()
    )
    shutil.rmtree(f"{batch0}/bands")
    spark.createDataFrame(legacy).write.parquet(f"{batch0}/bands")
    hook(idx2, 1)  # post-upgrade batch carries hash_fn='xxhash64'

    new = spark.createDataFrame(
        [(1, base[0][1] + " extra"), (2, base[5][1] + " extra")],
        ["doc_id", "text"],
    )
    want = [
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_near_duplicates_incremental(
            new, idx1.unionByName(idx2),
            threshold=0.5, num_hashes=24, num_bands=12,
        ).collect()
    ]
    assert want  # pairs on both sides of the schema boundary
    assert {b for _, b, _ in want} & {100, 105}
    got = [
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_incremental_persisted(
            spark, path, new, threshold=0.5, num_hashes=24, num_bands=12
        ).collect()
    ]
    assert got == want

    with pytest.raises(ValueError, match="hash_fn"):
        minhash_incremental_persisted(
            spark, path, new,
            threshold=0.5, num_hashes=24, num_bands=12, hash_fn="md5",
        ).collect()


def _walk_logical(node):
    yield node
    for i in range(node.children().size()):
        yield from _walk_logical(node.children().apply(i))


def _index_scan_violations(node, index_path, have_join=False):
    """Index-file LogicalRelations reachable from ``node`` WITHOUT
    passing a Join — the shape of an index-wide aggregation (the fix's
    'done' criterion: every aggregate touching index files must sit
    above a pruning join, never directly over the bare relation)."""
    name = node.getClass().getSimpleName()
    if name == "LogicalRelation" and not have_join:
        try:
            paths = node.relation().location().rootPaths().mkString(",")
        except Exception:
            paths = ""
        if index_path in paths:
            yield paths
    if "Join" in name:
        have_join = True
    for i in range(node.children().size()):
        yield from _index_scan_violations(
            node.children().apply(i), index_path, have_join
        )


def test_minhash_folded_probe_has_no_indexwide_aggregation(
    spark, tmp_path
):
    """r9 verdict task #1's DONE criterion, plan-asserted: after
    minhash_fold, the persisted gate's probe plan contains (a) NO
    Window over the index relations at all — the occupancy cap reads
    the stored _occ column instead of re-windowing the bands — and
    (b) no Aggregate DIRECTLY over a bare index relation: every
    aggregate whose subtree reads index files sits above a
    (broadcast-pruned) Join, so its input is delta/tombstone-sized,
    never index-sized.  (Delta-side aggregations behind lazy
    localCheckpoints are delta-sized by construction — the checkpoint
    inputs are the _global=false filter or pruning joins.)"""
    from paas_auditor_spark.operators.dedup import (
        minhash_fold,
        minhash_incremental_persisted,
        minhash_index_collector,
    )

    path = str(tmp_path / "mh_idx")
    docs = spark.createDataFrame(
        [
            (100 + i,
             f"the quick brown fox number {i} jumps over the lazy dog "
             f"near the river bank today in document {i}")
            for i in range(20)
        ],
        ["doc_id", "text"],
    )
    hook = minhash_index_collector(path, num_hashes=24, num_bands=12)
    hook(docs, 0)
    assert minhash_fold(spark, path) == 1
    new = spark.createDataFrame(
        [(1, docs.collect()[0]["text"] + " extra")], ["doc_id", "text"]
    )
    df = minhash_incremental_persisted(
        spark, path, new, threshold=0.5, num_hashes=24, num_bands=12
    )
    assert df.count() > 0  # the probe really gates

    plan = df._jdf.queryExecution().optimizedPlan()
    for node in _walk_logical(plan):
        name = node.getClass().getSimpleName()
        if name == "Window":
            # ANY index relation under a Window is the banned
            # occupancy window, join-pruned or not
            bad = [
                p
                for n2 in _walk_logical(node)
                if n2.getClass().getSimpleName() == "LogicalRelation"
                for p in [n2.relation().location().rootPaths().mkString(",")]
                if path in p
            ]
            assert not bad, f"Window over index relation(s): {bad}"
        if name == "Aggregate":
            bad = list(_index_scan_violations(node, path))
            assert not bad, (
                f"Aggregate directly over bare index relation(s): {bad}"
            )


def test_minhash_gate_legacy_layout_without_collapse(spark, tmp_path):
    """Indexes written BEFORE the collapse part existed (r10) must keep
    probing through the legacy full-rebuild path — simulated by
    deleting the collapse dirs from a fresh index."""
    import shutil

    from paas_auditor_spark.operators.dedup import (
        minhash_incremental_persisted,
        minhash_index_collector,
        minhash_near_duplicates_incremental,
    )

    path = str(tmp_path / "mh_idx")
    docs = spark.createDataFrame(
        [
            (100 + i,
             f"the quick brown fox number {i} jumps over the lazy dog "
             f"near the river bank today in document {i}")
            for i in range(6)
        ] + [(200, "the quick brown fox number 0 jumps over the lazy dog "
                   "near the river bank today in document 0")],
        ["doc_id", "text"],  # 200 = exact copy of 100: collapse matters
    )
    hook = minhash_index_collector(path, num_hashes=24, num_bands=12)
    hook(docs, 0)
    shutil.rmtree(f"{path}/batch-0/collapse")

    new = spark.createDataFrame(
        [(1, docs.collect()[0]["text"] + " extra")], ["doc_id", "text"]
    )
    want = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_near_duplicates_incremental(
            new, docs, threshold=0.5, num_hashes=24, num_bands=12
        ).collect()
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_incremental_persisted(
            spark, path, new, threshold=0.5, num_hashes=24, num_bands=12
        ).collect()
    )
    assert got == want
    assert {100, 200} <= {b for _, b, _ in got}  # legacy collapse fan-out


def test_minhash_folded_probe_cap_corrections_exact(spark, tmp_path):
    """The materialized probe's corrected occupancy (stored _occ base +
    signed rep-change counts) must reproduce _cap_buckets EXACTLY when
    the cap BINDS across the fold boundary: a near-identical family
    split between folded and delta batches crosses max_bucket only
    with the delta counted, and a tombstone pulls it back under.  The
    in-memory gate over the same survivors is ground truth at every
    step."""
    from paas_auditor_spark.operators.atomic import tombstones_collector
    from paas_auditor_spark.operators.dedup import (
        minhash_fold,
        minhash_incremental_persisted,
        minhash_index_collector,
        minhash_near_duplicates_incremental,
    )

    boiler = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
              "lambda mu nu xi omicron pi rho sigma tau upsilon phi")
    # near-identical variants: one token differs → they share most band
    # keys, so their common buckets hold N DISTINCT contents
    fam = [(100 + i, boiler + f" variant{i}") for i in range(4)]
    filler = [(300 + i, f"wholly unrelated filler text number {i} about "
                        f"storage engines and shuffles {i}")
              for i in range(3)]
    path = str(tmp_path / "mh_idx")
    tomb = str(tmp_path / "mh_tomb")
    hook = minhash_index_collector(path, num_hashes=24, num_bands=12)
    # fold 3 family members + filler; the 4th family member is DELTA
    hook(spark.createDataFrame(fam[:3] + filler, ["doc_id", "text"]), 0)
    assert minhash_fold(spark, path) == 1
    hook(spark.createDataFrame([fam[3]], ["doc_id", "text"]), 1)

    new = spark.createDataFrame(
        [(1, boiler + " variant0 probe")], ["doc_id", "text"]
    )

    def gate(cap, **kw):
        return sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in minhash_incremental_persisted(
                spark, path, new, threshold=0.5,
                num_hashes=24, num_bands=12, max_bucket=cap, **kw
            ).collect()
        )

    def want(rows, cap):
        idx = spark.createDataFrame(rows, ["doc_id", "text"])
        return sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in minhash_near_duplicates_incremental(
                new, idx, threshold=0.5, num_hashes=24, num_bands=12,
                max_bucket=cap,
            ).collect()
        )

    all_rows = fam + filler
    # cap=3: the family's shared buckets hold 4 distinct contents →
    # dropped (the cap binds THROUGH the fold boundary); cap=None keeps
    # everything.  Equality at both settings pins the corrected
    # arithmetic in both directions.
    for cap in (None, 3):
        w = want(all_rows, cap)
        assert gate(cap) == w, f"cap={cap}"
    assert len(want(all_rows, None)) > len(want(all_rows, 3))

    # tombstone one folded family member: occupancy falls back to 3 ≤
    # cap, the buckets come back, and the probe must agree again
    tombstones_collector(tomb)(
        spark.createDataFrame([(101,)], "doc_id long"), 0
    )
    survivors = [r for r in all_rows if r[0] != 101]
    for cap in (None, 3):
        assert gate(cap, tombstone_path=tomb) == want(survivors, cap), cap


def test_band_fold_int64_safe_at_any_rows_per_band(spark):
    """r11 review: the polynomial band-key fold overflowed int64 under
    ANSI mode for rows_per_band >= 3 (validation accepts those configs);
    the pmod pre-reduction must keep every step in-range AND be a no-op
    for rows_per_band <= 2 (persisted ratio-2 band keys bit-unchanged)."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i % 4} common tail")
         for i in range(30)],
        ["doc_id", "text"],
    )
    # ratio 3 and 4: crashed with ARITHMETIC_OVERFLOW pre-fix
    for nh, nb in [(24, 8), (48, 12)]:
        assert dedup.minhash_near_duplicates(
            docs, num_hashes=nh, num_bands=nb
        ).count() >= 0
    # ratio-2 bit-stability: the Spark fold equals the plain python
    # polynomial (no modular reduction observable)
    sets_df = dedup.hashed_shingle_sets(docs, "text", "doc_id", 3)
    row = (
        sets_df.select(
            "doc_id",
            F.expr(dedup._band_keys_sql(8, 4)).alias("bkeys"),
            "hset",
        )
        .orderBy("doc_id")
        .first()
    )
    a, b = dedup._minhash_coeffs(8)
    minima = [
        min(((h * a[i] + b[i]) % dedup.HASH_PRIME) for h in row["hset"])
        for i in range(8)
    ]
    expect = [
        minima[2 * bi] * 1000003 + minima[2 * bi + 1] for bi in range(4)
    ]
    assert list(row["bkeys"]) == expect


def test_min_rep_collapse_null_ckey_rows_stand_alone(spark):
    """Rows with NULL _ckey (pre-_ckey index layout through a
    mergeSchema read) must each be their OWN representative — never
    collapsed into one NULL group, never dropped."""
    from pyspark.sql import functions as F

    slim = spark.createDataFrame(
        [(1, 7, 8), (2, 7, 8), (3, None, None), (4, None, None)],
        "id long, h1 long, h2 long",
    ).select(
        "id",
        F.when(
            F.col("h1").isNotNull(), F.struct("h1", "h2")
        ).alias("_ckey"),
    )
    out = {r["id"]: r["_rep"] for r in dedup._min_rep_collapse(slim, "id").collect()}
    assert out == {1: 1, 2: 1, 3: 3, 4: 4}


def test_star_cc_raises_on_non_convergence(spark):
    """connected_components_star must fail loudly (like its sibling)
    when max_iter exhausts before the fixpoint — silent still-split
    labels would under-deduplicate downstream."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        dedup.connected_components_star(chain, max_iter=1)


def test_parameter_validation_is_loud(spark):
    docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="shingle k"):
        dedup.minhash_near_duplicates(docs, shingle_k=0).collect()
    with pytest.raises(ValueError, match="max_bucket"):
        dedup.minhash_incremental_persisted(
            spark, "/nonexistent", docs, max_bucket=1
        )
