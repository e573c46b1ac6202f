"""Misra-Gries guarantee tests: exactness when capacity covers the
vocabulary, and the frequency/lower-bound guarantees when it does not."""

from __future__ import annotations

import random
from collections import Counter

from pyspark.sql import functions as F

from paas_auditor_spark.operators.heavyhitters import (
    heavy_hitters,
    misra_gries_summary,
)


def _items_df(spark, items, partitions=4):
    return spark.createDataFrame(
        [(x,) for x in items], ["item"]
    ).repartition(partitions)


def test_exact_when_capacity_covers_vocab(spark):
    items = ["a"] * 50 + ["b"] * 30 + ["c"] * 19 + ["d"]
    random.Random(7).shuffle(items)
    got = {
        r["item"]: r["cnt_lb"]
        for r in misra_gries_summary(_items_df(spark, items), "item", 100).collect()
    }
    assert got == {"a": 50, "b": 30, "c": 19, "d": 1}


def test_guarantees_under_tight_capacity(spark):
    rng = random.Random(11)
    # 3 heavy items + a long tail of 200 singletons-ish
    items = ["hot1"] * 400 + ["hot2"] * 300 + ["hot3"] * 200
    items += [f"tail{i}" for i in range(200) for _ in range(rng.randint(1, 3))]
    rng.shuffle(items)
    true = Counter(items)
    n = len(items)
    capacity = 50
    df = _items_df(spark, items, partitions=4)
    got = {
        r["item"]: r["cnt_lb"]
        for r in misra_gries_summary(df, "item", capacity).collect()
    }
    # every item with freq > n/capacity per partition-sum bound survives;
    # partition error adds, so the merged bound is n/capacity
    for item, c in true.items():
        if c > n / capacity:
            assert item in got, f"heavy item {item} (freq {c}) dropped"
    # reported counts are lower bounds, short by at most n/capacity
    for item, lb in got.items():
        assert lb <= true[item]
        assert true[item] - lb <= n / capacity

    top = heavy_hitters(df, "item", k=3, capacity=capacity).collect()
    assert [r["item"] for r in top] == ["hot1", "hot2", "hot3"]


def test_non_string_item_column_keeps_type(spark):
    """ADVICE r04: the summary schema derives the item type from the input
    column — bigint ids/URL hashes must survive the Arrow boundary intact,
    not coerce to (or fail as) strings."""
    items = [7] * 30 + [13] * 20 + [999] * 5
    df = spark.createDataFrame([(x,) for x in items], "item bigint").repartition(3)
    out = misra_gries_summary(df, "item", 100)
    assert out.schema["item"].dataType.simpleString() == "bigint"
    got = {r["item"]: r["cnt_lb"] for r in out.collect()}
    assert got == {7: 30, 13: 20, 999: 5}
    top = heavy_hitters(df, "item", k=2, capacity=100).collect()
    assert [r["item"] for r in top] == [7, 13]


def test_q_heavy_hitters_capacity_covers_testdata_vocab(spark, sf_dir):
    """ADVICE r04: q_heavy_hitters' exact-count oracle is only valid while
    its capacity (8192) exceeds the corpus vocabulary — merged MG lower
    bounds diverge past that and the top-20 cut can silently flip.  Fail
    LOUDLY here if a future testdata change breaks the assumption."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.functions import text as tx
    from paas_auditor_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tx.tokens(F.lower(F.col("text")))).alias("term"))
        .select(F.countDistinct("term"))
        .first()[0]
    )
    assert vocab <= 8192, (
        f"documents vocabulary ({vocab}) outgrew q_heavy_hitters' capacity "
        "8192: the oracle comparison is no longer exact — raise the "
        "query's capacity"
    )


# -- property-based: fold_counts is pure Python, so hypothesis can hammer
#    the MG invariants without a Spark round-trip per example
from collections import Counter as _Counter

import pandas as _pd
from hypothesis import given, settings
from hypothesis import strategies as st

from paas_auditor_spark.operators.heavyhitters import fold_counts


@settings(max_examples=200, deadline=None)
@given(
    stream=st.lists(
        st.lists(st.integers(min_value=0, max_value=30), max_size=40),
        max_size=6,
    ),
    capacity=st.integers(min_value=1, max_value=12),
)
def test_fold_counts_invariants(stream, capacity):
    summary: dict = {}
    for batch in stream:
        fold_counts(summary, _pd.Series(batch, dtype="object"), capacity)
    true = _Counter(x for batch in stream for x in batch)
    n = sum(true.values())
    # bounded size
    assert len(summary) <= capacity
    # lower bounds, short by at most n/capacity
    for item, lb in summary.items():
        assert 0 < lb <= true[item]
        assert true[item] - lb <= n / capacity
    # every sufficiently heavy item survives
    for item, c in true.items():
        if c > n / capacity:
            assert item in summary


def test_cms_overestimates_and_merges(spark):
    """CMS invariants: every estimate ≥ the true count; summing the
    sketches of two disjoint halves equals the sketch of the union
    (mergeability — the property that makes per-day sketches roll up)."""
    from pyspark.sql import functions as F

    from paas_auditor_spark.operators.heavyhitters import (
        cms_estimates,
        cms_table,
    )

    rows = [(f"item{i % 37}",) for i in range(1500)] + [("hot",)] * 300
    df = spark.createDataFrame(rows, "item string")
    true = {r["item"]: r["n"] for r in
            df.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()}
    items = df.select("item").distinct()
    est = {
        r["item"]: r["cms_estimate"]
        for r in cms_estimates(df, items, "item", depth=4, width=64).collect()
    }
    assert set(est) == set(true)
    for item, n in true.items():
        assert est[item] >= n, (item, est[item], n)

    half1 = spark.createDataFrame(rows[:900], "item string")
    half2 = spark.createDataFrame(rows[900:], "item string")
    merged = (
        cms_table(half1, "item", depth=4, width=64)
        .unionByName(cms_table(half2, "item", depth=4, width=64))
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = cms_table(df, "item", depth=4, width=64)
    got = {(r["d"], r["bucket"]): r["cnt"] for r in merged.collect()}
    want = {(r["d"], r["bucket"]): r["cnt"] for r in whole.collect()}
    assert got == want


def test_cms_absent_item_estimates_zero_or_low(spark):
    """An item absent from the stream must still get an estimate (0 when
    its buckets are untouched) — regression: the inner sketch join
    dropped absent items entirely."""
    from pyspark.sql import functions as F  # noqa: F401

    from paas_auditor_spark.operators.heavyhitters import cms_estimates

    df = spark.createDataFrame([("a",), ("a",), ("b",)], "item string")
    items = spark.createDataFrame(
        [("a",), ("zzz_absent",)], "item string"
    )
    est = {
        r["item"]: r["cms_estimate"]
        for r in cms_estimates(df, items, "item", depth=4, width=4096).collect()
    }
    assert est["a"] >= 2
    assert "zzz_absent" in est
    assert est["zzz_absent"] == 0  # width 4096, 3 elements: no collision


def test_cms_null_items_dropped_on_build_and_probe(spark):
    """NULL stream items contribute no counters (the null-propagating
    md5 concat would otherwise pile them into an unjoinable (d, NULL)
    bucket), and a NULL query item is excluded rather than reported as
    0 — mirroring bloom_words/bloom_contains' NULL semantics (the r5
    advice finding)."""
    from paas_auditor_spark.operators.heavyhitters import (
        cms_estimates,
        cms_table,
    )

    rows = [("a",), (None,), ("a",), (None,), ("b",)]
    df = spark.createDataFrame(rows, "item string")
    with_nulls = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in cms_table(df, "item", depth=4, width=64).collect()
    }
    without = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in cms_table(
            df.where("item IS NOT NULL"), "item", depth=4, width=64
        ).collect()
    }
    assert with_nulls == without
    assert all(b is not None for (_, b) in with_nulls)

    items = spark.createDataFrame([("a",), (None,)], "item string")
    est = {
        r["item"]: r["cms_estimate"]
        for r in cms_estimates(df, items, "item", depth=4, width=64).collect()
    }
    assert est == {"a": 2}


def test_cms_join_size_overestimates_and_merges(spark):
    """The AMS inner-product estimate is >= the true join size (cross
    terms are nonnegative), and estimating from MERGED per-shard
    sketches equals the single-shot estimate (counter addition
    commutes with the product)."""
    from paas_auditor_spark.operators.heavyhitters import (
        cms_join_size,
        cms_table,
    )

    left = spark.createDataFrame(
        [(str(i % 7),) for i in range(200)] + [(None,)], "k string"
    )
    right = spark.createDataFrame(
        [(str(i % 5),) for i in range(100)], "k string"
    )
    est = cms_join_size(left, right, "k", width=32).first()["est_join_rows"]
    truth = (
        left.where(F.col("k").isNotNull())
        .join(right, "k")
        .count()
    )
    assert est >= truth
    # width >> keys: no collisions, the estimate is exact
    exact_est = cms_join_size(left, right, "k", width=4096).first()[
        "est_join_rows"
    ]
    assert exact_est == truth

    # merge property: sum of two shard sketches == whole-input sketch
    l1, l2 = left.where("k < '4'"), left.where("k >= '4' OR k IS NULL")
    merged = (
        cms_table(l1, "k", 4, 32)
        .unionByName(cms_table(l2, "k", 4, 32))
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    single = cms_table(left, "k", 4, 32)
    assert (
        merged.exceptAll(single).count() == 0
        and single.exceptAll(merged).count() == 0
    )
