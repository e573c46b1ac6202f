"""Generate a larger-SF slice by key-remapped replication of an existing
testdata directory — the sf1 scaling-rehearsal input (SURVEY §7).

/root/testdata is read-only and tops out at sf0.1 (~600k lineitem), so
the 10× slice is built by unioning FACTOR copies of each fact table with
primary keys remapped into disjoint ranges (copy c adds c·10⁹ to the
key).  Distributions every plan decision depends on are preserved:
per-user/event-type frequencies, text length/shape, embedding geometry,
TPC-H key fan-outs.  Two deliberate choices keep derived relations
scaling honestly rather than degenerately:

- ``documents.text`` gets a per-copy salt suffix (" sc<copy> d<doc_id>")
  so the corpus is NEAR-duplicate-rich (each doc has FACTOR-1 ~0.95
  Jaccard siblings — the crawl-like shape that stresses dedup banding)
  instead of exact-duplicate-degenerate (which would collapse at the
  first dropDuplicates and measure nothing);
- ``embeddings.embedding`` gets a tiny per-copy additive offset
  (copy·1e-4) so ANN candidate sets grow with the corpus instead of
  producing FACTOR-way exact ties.

Dimension tables (region/nation/customer/supplier/part) are copied
verbatim: dims stay broadcast-sized at any fact scale — that IS the
warehouse shape the broadcast joins are designed for.

Usage: python tools/make_scale_slice.py [--src /root/testdata/sf0.1]
                                        [--out /root/repo/.scale/sf1]
                                        [--factor 10]
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import DataFrame, functions as F

SHIFT = 1_000_000_000


def _copies(df: DataFrame, factor: int, remap) -> DataFrame:
    out = None
    for c in range(factor):
        part = remap(df, c)
        out = part if out is None else out.unionByName(part)
    return out


def _documents_cross(df: DataFrame, factor: int) -> DataFrame:
    """Cross-join replication for the documents table — the large-factor
    path (a factor-1000 union would be a 1000-branch plan; the cross
    join with a range relation is one narrow op).  Same per-copy key
    shift and text salt as the union path."""
    copies = df.sparkSession.range(factor).select(
        F.col("id").cast("int").alias("_c")
    )
    return (
        df.crossJoin(F.broadcast(copies))
        .select(
            (F.col("doc_id") + F.col("_c").cast("long") * F.lit(SHIFT))
            .alias("doc_id"),
            F.concat(
                F.col("text"),
                F.lit(" sc"),
                F.col("_c").cast("string"),
                F.lit(" d"),
                F.col("doc_id").cast("string"),
            ).alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )


def replicate_table(name: str, df: DataFrame, factor: int) -> DataFrame:
    def shift(col: str, c: int):
        return (F.col(col) + F.lit(c * SHIFT)).alias(col)

    if name == "events":
        return _copies(
            df,
            factor,
            lambda d, c: d.select(
                shift("event_id", c), "ts", shift("user_id", c),
                "event_type", "value", "props",
            ),
        )
    if name == "documents":
        if factor > 50:
            return _documents_cross(df, factor)
        return _copies(
            df,
            factor,
            lambda d, c: d.select(
                shift("doc_id", c),
                F.concat(
                    F.col("text"),
                    F.lit(f" sc{c} d"),
                    F.col("doc_id").cast("string"),
                ).alias("text"),
                "lang",
                "source",
            ).withColumn("n_chars", F.length("text").cast("long")),
        )
    if name == "embeddings":
        if factor > 50:
            copies = df.sparkSession.range(factor).select(
                F.col("id").cast("int").alias("_c")
            )
            return df.crossJoin(F.broadcast(copies)).select(
                (F.col("vec_id") + F.col("_c").cast("long") * F.lit(SHIFT))
                .alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x: (x + F.col("_c") * F.lit(1e-4)).cast("float"),
                ).alias("embedding"),
                "label",
            )
        return _copies(
            df,
            factor,
            lambda d, c: d.select(
                shift("vec_id", c),
                F.transform(
                    "embedding", lambda x: (x + F.lit(c * 1e-4)).cast("float")
                ).alias("embedding"),
                "label",
            ),
        )
    if name == "orders":
        return _copies(
            df,
            factor,
            lambda d, c: d.select(
                shift("o_orderkey", c), "o_custkey", "o_orderstatus",
                "o_totalprice", "o_orderdate", "o_orderpriority",
            ),
        )
    if name == "lineitem":
        cols = df.columns

        def remap(d, c):
            return d.select(
                *[shift(x, c) if x == "l_orderkey" else x for x in cols]
            )

        return _copies(df, factor, remap)
    return df  # dimension tables: verbatim


def make_slice(
    spark, src: str, out: str, factor: int, tables: list[str] | None = None
) -> None:
    os.makedirs(out, exist_ok=True)
    tables = tables or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    from paas_auditor_spark.sources.tables import load_table

    files = {"lineitem": 8, "events": 4, "documents": 2, "embeddings": 2}
    if factor > 50:  # keep per-file row counts sane at large factors
        files = {t: max(8, n * factor // 25) for t, n in files.items()}
    for t in tables:
        src_path = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(src_path):
            continue
        # load_table normalizes the source's TIMESTAMP(NANOS) events.ts
        # to micros — the slice is written back as plain us timestamps,
        # which load_table passes through untouched on the read side
        df = load_table(spark, src, t)
        rep = replicate_table(t, df, factor)
        dst = os.path.join(out, f"{t}.parquet")
        rep.repartition(files.get(t, 1)).write.mode("overwrite").parquet(dst)
        print(f"{t}: {df.count()} -> {spark.read.parquet(dst).count()} rows")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/root/repo/.scale/sf1")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument(
        "--tables", default=None,
        help="comma-separated subset (e.g. documents) for targeted "
             "large-factor slices",
    )
    args = ap.parse_args()
    from paas_auditor_spark.session import get_spark

    spark = get_spark(app_name="make-scale-slice")
    spark.sparkContext.setLogLevel("ERROR")
    make_slice(
        spark, args.src, args.out, args.factor,
        tables=args.tables.split(",") if args.tables else None,
    )
