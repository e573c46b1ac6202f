"""Property-based checks (hypothesis) for the incremental-pipeline
invariants — the randomized analog of the reference's randomEventPages
fixtures (cf_audit_event_fetcher_test.go:269-310), but with asserted
properties instead of example assertions.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from paas_auditor_spark.operators.cursor import unshipped_events
from paas_auditor_spark.operators.ingest import idempotent_append

BASE = dt.datetime(2024, 3, 1)

# (guid index, seconds offset) — duplicates across and within batches allowed
event_batch = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 3600)),
    min_size=0,
    max_size=25,
)

SCHEMA = "guid string, created_at timestamp, payload string"


def _df(spark, batch):
    rows = [
        (f"g-{g}", BASE + dt.timedelta(seconds=s), f"p-{g}-{s}")
        for g, s in batch
    ]
    return spark.createDataFrame(rows, SCHEMA)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(b1=event_batch, b2=event_batch)
def test_idempotent_append_never_duplicates_keys(spark, b1, b2):
    """However batches overlap (within or across), the target ends with
    exactly one row per distinct guid and append order never loses keys."""
    target = _df(spark, [])
    for batch in (b1, b2, b1):  # replay b1 entirely (at-least-once input)
        target = idempotent_append(target, _df(spark, batch))
    got = target.select("guid").collect()
    want_keys = {f"g-{g}" for g, _ in b1 + b2}
    assert len(got) == len(want_keys)
    assert {r["guid"] for r in got} == want_keys


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batch=event_batch, cursor_s=st.integers(0, 3600), cap=st.integers(1, 10))
def test_unshipped_respects_cursor_order_and_cap(spark, batch, cursor_s, cap):
    events = _df(spark, batch).dropDuplicates(["guid"])
    cursor_ts = BASE + dt.timedelta(seconds=cursor_s)
    shipped_id = "g-5"
    out = unshipped_events(
        events, cursor_ts, shipped_id, batch_cap=cap,
        ts_col="created_at", id_col="guid",
    ).collect()
    # bounded batch
    assert len(out) <= cap
    # P6: nothing before the cursor; P7: the cursor guid itself is excluded
    assert all(r["created_at"] >= cursor_ts for r in out)
    assert all(r["guid"] != shipped_id for r in out)
    # O4: chronological ship order
    times = [r["created_at"] for r in out]
    assert times == sorted(times)


edge_list = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=0,
    max_size=18,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_list)
def test_connected_components_matches_union_find(spark, edges):
    """Min-label propagation equals a driver-side union-find on any random
    graph (self-loops and duplicate edges included)."""
    from paas_auditor_spark.operators.dedup import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    nodes = sorted({n for e in edges for n in e} | {0, 12})

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in nodes}
    # canonicalize: component label = min member
    comp_min: dict[int, int] = {}
    for n in nodes:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    want = {n: comp_min[find(n)] for n in nodes}

    edges_df = spark.createDataFrame(
        edges or [(0, 0)], "id_a long, id_b long"
    )
    if not edges:
        edges_df = edges_df.filter("id_a != id_a")  # empty edge set
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "node long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges_df, nodes=nodes_df).collect()
    }
    assert got == want


interval_case = st.tuples(
    st.lists(st.integers(0, 100), min_size=0, max_size=15),          # event offsets (min)
    st.lists(st.tuples(st.integers(0, 100), st.integers(0, 40)),
             min_size=0, max_size=6),                                 # (start, length)
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=interval_case)
def test_interval_join_matches_theta_join(spark, case):
    """The binned interval join returns exactly the pairs a naive BETWEEN
    cross-check yields, for arbitrary event/interval layouts (boundary
    hits, multi-bin spans, empty sides)."""
    from paas_auditor_spark.operators.rangejoin import interval_join

    offsets, spans = case
    base = dt.datetime(2024, 5, 1)
    ev = [(i, base + dt.timedelta(minutes=m)) for i, m in enumerate(offsets)]
    iv = [
        (j, base + dt.timedelta(minutes=s), base + dt.timedelta(minutes=s + ln))
        for j, (s, ln) in enumerate(spans)
    ]
    want = sorted(
        (j, i)
        for (j, s, e) in iv
        for (i, t) in ev
        if s <= t <= e
    )
    ev_df = spark.createDataFrame(ev or [(0, base)], "event_id long, ts timestamp")
    if not ev:
        ev_df = ev_df.filter("event_id < 0")
    iv_df = spark.createDataFrame(
        iv or [(0, base, base)], "iv_id long, start timestamp, end timestamp"
    )
    if not iv:
        iv_df = iv_df.filter("iv_id < 0")
    got = sorted(
        (r["iv_id"], r["event_id"])
        for r in interval_join(
            ev_df, iv_df, "ts", "start", "end", bin_width_s=600
        ).collect()
    )
    assert got == want


# --- text-function invariants ---------------------------------------------

doc_text = st.text(
    alphabet=st.sampled_from("ab XY.9\t\n的"), min_size=0, max_size=60
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(doc_text, min_size=1, max_size=8))
def test_text_function_invariants(spark, texts):
    """On arbitrary text: n-gram count == max(0, tokens-1); repetition
    ratio stays in [0,1] and is 0 for sub-bigram docs; quality_filter's
    keep equals the conjunction of its own reported signals."""
    from paas_auditor_spark.functions import text as tx

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        tx.token_count(F.col("text")).alias("n_tok"),
        F.size(tx.ngrams(F.col("text"), 2)).alias("n_grams"),
        tx.repetition_ratio(F.col("text"), 2).alias("rep"),
    ).collect()
    for r in rows:
        assert r["n_grams"] == max(0, r["n_tok"] - 1)
        assert 0.0 <= r["rep"] <= 1.0
        if r["n_tok"] < 2:
            assert r["rep"] == 0.0


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=40, unique=True)
)
def test_deterministic_sample_is_stable_under_repartition(spark, ids):
    """The content-hash sampling decision is a pure function of the key:
    the kept set is identical however the input is partitioned, and a
    re-run keeps exactly the same rows (the reproducibility contract
    seeded RNG sampling cannot give)."""
    pct = (
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 10000
    )
    df1 = spark.createDataFrame([(i,) for i in ids], "id long").repartition(1)
    df8 = spark.createDataFrame([(i,) for i in ids], "id long").repartition(8)
    kept1 = sorted(r["id"] for r in df1.filter(pct < 5000).collect())
    kept8 = sorted(r["id"] for r in df8.filter(pct < 5000).collect())
    assert kept1 == kept8


# --- SCD-2 fold invariants -------------------------------------------------


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    updates=st.lists(
        st.tuples(st.integers(0, 2), st.sampled_from("rgb")),
        min_size=1,
        max_size=4,
    )
)
def test_scd2_fold_invariants(spark, updates):
    """Any sequence of update batches preserves: exactly one current row
    per key, per-key intervals chain contiguously from first sight to the
    sentinel, and re-applying the last batch is a no-op."""
    from paas_auditor_spark.operators.scd import MAX_TS, scd2_apply

    tmax = dt.datetime.fromisoformat(MAX_TS)
    dim = spark.createDataFrame(
        [],
        "k long, color string, valid_from timestamp, valid_to timestamp",
    )
    batch_df = None
    for step, (key, color) in enumerate(updates):
        batch_df = spark.createDataFrame(
            [(key, color, BASE + dt.timedelta(days=step + 1))],
            "k long, color string, effective_ts timestamp",
        )
        # checkpoint per fold: each apply is union-of-joins over the prior
        # result — uncut, the plan nests exponentially with batch count
        dim = scd2_apply(dim, batch_df, "k", ["color"]).localCheckpoint()
    rows = dim.collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)
    for key, versions in by_key.items():
        current = [r for r in versions if r["valid_to"] == tmax]
        assert len(current) == 1, f"key {key}: {len(current)} current rows"
        chain = sorted(versions, key=lambda r: r["valid_from"])
        for a, b in zip(chain, chain[1:]):
            assert a["valid_to"] == b["valid_from"], "interval gap/overlap"
    # replaying the final batch changes nothing
    again = scd2_apply(dim, batch_df, "k", ["color"])
    assert sorted(map(tuple, again.collect()), key=repr) == sorted(
        map(tuple, rows), key=repr
    )


def test_asof_join_semantics_tolerance_and_null_carry(spark):
    """Backward-inclusive match, max-ts then max-tie winner, NULL right
    VALUE carried from the matched row (not skipped), tolerance nulling,
    unmatched-left retention (operators.asof.asof_join_backward)."""
    import datetime as dt

    from pyspark.sql import types as T

    from paas_auditor_spark.operators.asof import asof_join_backward

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    lschema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("lid", T.LongType()),
    ])
    rschema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("rts", T.TimestampType()),
        T.StructField("rid", T.LongType()),
        T.StructField("val", T.DoubleType()),
    ])
    left = spark.createDataFrame(
        [(1, ts(10), 100), (1, ts(30), 101), (2, ts(10), 200),
         (3, ts(5), 300)],
        lschema,
    )
    right = spark.createDataFrame(
        [
            (1, ts(10), 7, None),    # same-instant match, NULL value
            (1, ts(8), 6, 8.0),      # older - must NOT be carried into 100
            (1, ts(25), 9, 25.0),
            (1, ts(25), 8, 24.0),    # same ts as rid 9 -> rid 9 wins (max tie)
            (2, ts(50), 11, 50.0),   # only AFTER the left row -> no match
        ],
        rschema,
    )

    def run(**kw):
        return {
            r["lid"]: r
            for r in asof_join_backward(
                left, right, key="k", left_time="ts", right_time="rts",
                right_value_cols=["rid", "val"], right_tiebreak="rid", **kw
            ).collect()
        }

    out = run()
    assert len(out) == 4
    # inclusive same-instant match; the matched row's NULL val is carried
    assert out[100]["asof_rid"] == 7 and out[100]["asof_val"] is None
    assert out[101]["asof_rid"] == 9 and out[101]["asof_val"] == 25.0
    assert out[200]["asof_rid"] is None  # right exists only in the future
    assert out[300]["asof_rid"] is None  # key with no right rows at all
    # tolerance: 101 matched at ts 25 vs left ts 30 (5s gap) - a 3s
    # tolerance nulls it, a 5s tolerance keeps it (inclusive)
    tol3 = run(tolerance_s=3)
    assert tol3[101]["asof_rid"] is None
    assert tol3[100]["asof_rid"] == 7  # 0s gap survives any tolerance
    tol5 = run(tolerance_s=5)
    assert tol5[101]["asof_rid"] == 9


def test_asof_join_single_shuffle_no_join_node(spark):
    """The plan must be union -> one window (shuffle+sort) - never a join
    of candidate pairs."""
    import datetime as dt

    from pyspark.sql import types as T

    from paas_auditor_spark.operators.asof import asof_join_backward

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("x", T.LongType()),
    ])
    df = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 1), 1)], schema
    )
    plan = (
        asof_join_backward(
            df, df.withColumnRenamed("ts", "rts"), key="k",
            left_time="ts", right_time="rts", right_value_cols=["x"],
            tolerance_s=60,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in plan
    assert "Join" not in plan, plan


@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("ab cd"), min_size=0, max_size=60
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_duplicate_spans_invariants(spark, texts):
    """(1) coverage is bounded by the token count; (2) unioning the
    corpus with a re-keyed copy of itself makes every ≥k-token doc fully
    covered — every gram then occurs ≥2 times, and the gram intervals
    tile the whole doc."""
    from paas_auditor_spark.operators.dedup import duplicate_spans

    k = 4
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = {
        r["doc_id"]: r for r in duplicate_spans(df, k=k).collect()
    }
    for r in base.values():
        assert 0 <= r["dup_tokens"] <= r["n_tokens"]

    doubled = spark.createDataFrame(
        rows + [(i + 1000, t) for i, t in rows], "doc_id long, text string"
    )
    for r in duplicate_spans(doubled, k=k).collect():
        if r["n_tokens"] >= k:
            assert r["dup_tokens"] == r["n_tokens"], r
            assert r["dup_frac"] == 1.0


@given(st.integers(min_value=0, max_value=10_000))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_triangle_counts_relabel_invariant(spark, offset):
    """Triangle counts depend only on graph shape: shifting every node id
    by a constant (which reshuffles the degree-ordering tie-breaks)
    permutes the result with the relabeling."""
    import itertools

    from paas_auditor_spark.operators.graph import triangle_counts

    n = 14
    edges = [
        (i, j)
        for i, j in itertools.combinations(range(n), 2)
        if (i * 31 + j * 17) % 3 == 0
    ]
    df0 = spark.createDataFrame(edges, "src long, dst long")
    got0 = {
        r["node"]: r["n_triangles"] for r in triangle_counts(df0).collect()
    }
    df1 = spark.createDataFrame(
        [(a + offset, b + offset) for a, b in edges], "src long, dst long"
    )
    got1 = {
        r["node"] - offset: r["n_triangles"]
        for r in triangle_counts(df1).collect()
    }
    assert got0 == got1


# -- Bloom filter engine portability ---------------------------------------
# printable-ish unicode incl. multi-byte; the '#' salt separator is allowed
# INSIDE keys on purpose — position derivation must stay well-defined and
# engine-agreed even then
bloom_keys = st.lists(
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",), min_codepoint=32
        ),
        min_size=0,
        max_size=24,
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=bloom_keys)
def test_bloom_positions_match_python_md5(spark, keys):
    """bloom_bit_pos must equal the closed form any other engine (or the
    DuckDB oracle) computes: the Kirsch–Mitzenmacher double hash
    (h1 + j·h2) mod m with h1/h2 the first/second 48-bit halves of
    md5(utf8(key)).  Spark md5 hashes the UTF-8 bytes of the string, so
    unicode keys agree too — this is the portability contract every
    bloom oracle rests on."""
    import hashlib

    from paas_auditor_spark.operators.bloom import bloom_bit_pos

    m, k = 1 << 14, 3
    df = spark.createDataFrame([(x,) for x in keys], "k string")
    got = df.select(
        "k", *[bloom_bit_pos(F.col("k"), j, m).alias(f"p{j}") for j in range(k)]
    ).collect()
    for row in got:
        digest = hashlib.md5(row["k"].encode("utf-8")).hexdigest()
        h1 = int(digest[:12], 16)
        h2 = int(digest[12:24], 16)
        for j in range(k):
            assert row[f"p{j}"] == (h1 + j * h2) % m


# ---- round-6 sequential-fold / CDC properties ----------------------------

token_doc = st.lists(
    st.integers(0, 40).map(lambda i: f"tok{i}"), min_size=0, max_size=60
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(token_doc, min_size=1, max_size=5))
def test_cdc_chunks_partition_property(spark, docs):
    """For ANY token stream: chunks partition the document — ordered
    concatenation reproduces it exactly, token counts add up, and every
    non-final chunk ends with a boundary token."""
    import hashlib

    from paas_auditor_spark.operators.dedup import content_chunks

    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    rows = content_chunks(df).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, d in enumerate(docs):
        chunks = sorted(by_doc.get(i, []), key=lambda r: r["chunk_idx"])
        rebuilt = " ".join(c["chunk_text"] for c in chunks)
        assert rebuilt == " ".join(d)
        assert sum(c["n_chunk_tokens"] for c in chunks) == len(d)
        for c in chunks[:-1]:
            last = c["chunk_text"].split(" ")[-1]
            h = int(hashlib.md5(last.encode()).hexdigest()[:8], 16)
            assert h % 16 == 0


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    series=st.lists(
        st.floats(-1e3, 1e3, allow_nan=False), min_size=1, max_size=25
    ),
    alpha=st.floats(0.05, 1.0),
)
def test_ewma_matches_python_reference(spark, series, alpha):
    """The in-plan EWMA fold equals the trivial sequential Python
    reference bit-for-bit for any series and alpha."""
    from paas_auditor_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [("k", t, x) for t, x in enumerate(series)],
        "k string, t int, x double",
    )
    got = {
        r["t"]: r["ewma"]
        for r in ewma(df, "k", "t", "x", alpha=alpha).collect()
    }
    e = None
    for t, x in enumerate(series):
        e = x if e is None else alpha * x + (1 - alpha) * e
        assert got[t] == e


# ---- round-7 operators: distributed rank and collector compaction ----

rank_rows = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 50)),  # (x with ties, wt)
    min_size=1,
    max_size=60,
    unique=True,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=rank_rows, parts=st.integers(1, 9))
def test_global_order_stats_equals_window_form(spark, rows, parts):
    """with_global_order_stats == the single-partition window form, for
    any data / tie pattern / partition count: rank, inclusive prefix
    sum, and the attached global totals."""
    from pyspark.sql.window import Window

    from paas_auditor_spark.operators.rank import with_global_order_stats

    df = spark.createDataFrame(
        [(i, x, w) for i, (x, w) in enumerate(rows)], "k long, x long, wt long"
    )
    got = {
        r["k"]: (r["r"], r["cum"], r["n"], r["tot"])
        for r in with_global_order_stats(
            df, [F.desc("x"), "k"], weight="wt",
            rank_col="r", prefix_col="cum", n_col="n", total_col="tot",
            num_partitions=parts,
        ).collect()
    }
    w = Window.orderBy(F.desc("x"), "k")
    n, tot = len(rows), sum(wt for _, wt in rows)
    want = {
        r["k"]: (r["r"], r["cum"], n, tot)
        for r in df.select(
            "k",
            F.row_number().over(w).alias("r"),
            F.sum("wt")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("cum"),
        ).collect()
    }
    assert got == want


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    splits=st.lists(st.integers(1, 40), min_size=2, max_size=5),
    data=st.data(),
)
def test_compaction_read_equivalence_any_split(spark, tmp_path_factory, splits, data):
    """For ANY way of splitting a value stream into batches, compacting
    the collector dataset leaves the merged histogram sketch identical —
    compaction is row-preserving regardless of batch boundaries."""
    from paas_auditor_spark.operators.atomic import compact_batches
    from paas_auditor_spark.operators.quantiles import (
        hist_collector,
        hist_merge,
        hist_read,
    )

    path = str(tmp_path_factory.mktemp("cb") / "hist")
    hook = hist_collector("v", path, n_bins=8, lo=0.0, hi=200.0)
    lo = 0
    for i, n in enumerate(splits):
        batch = spark.range(lo, lo + n).select(
            F.col("id").cast("double").alias("v")
        )
        hook(batch, i)
        lo += n

    def merged():
        return sorted(
            (r["bin"], r["cnt"])
            for r in hist_merge(hist_read(spark, path)).collect()
        )

    before = merged()
    assert sum(c for _, c in before) == lo
    assert compact_batches(spark, path) == len(splits)
    assert merged() == before


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=20),
        min_size=1,
        max_size=12,
    ),
    cut=st.integers(0, 12),
)
def test_postings_index_equals_direct_scores_any_corpus(
    spark, tmp_path_factory, corpus, cut
):
    """For ANY corpus (empty docs, token-less docs, skewed term
    repetition) and ANY two-batch split point, BM25 off the accumulated
    postings index equals bm25_scores over the whole corpus."""
    from paas_auditor_spark.operators.ranking import (
        bm25_from_postings,
        bm25_scores,
        postings_collector,
    )

    rows = [(i, t if t.strip() else None) for i, t in enumerate(corpus)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cut = min(cut, len(rows))
    path = str(tmp_path_factory.mktemp("pp") / "idx")
    hook = postings_collector(path)
    hook(docs.filter(F.col("doc_id") < cut), 0)
    hook(docs.filter(F.col("doc_id") >= cut), 1)
    want = {
        (r["doc_id"], round(r["score"], 6))
        for r in bm25_scores(docs, ["a", "ab"]).collect()
    }
    got = {
        (r["doc_id"], round(r["score"], 6))
        for r in bm25_from_postings(spark, path, ["a", "ab"]).collect()
    }
    assert got == want
