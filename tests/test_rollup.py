"""Bronze schema evolution: files written before a column existed read
back under mergeSchema."""

from __future__ import annotations


def test_bronze_schema_evolution_merge_read(spark, tmp_path):
    """Additive schema evolution on the bronze table: files written
    before a column existed read as NULL for it under mergeSchema — no
    rewrite of history when the API grows a field."""
    import datetime as dt

    path = str(tmp_path / "bronze_evo")
    v1 = spark.createDataFrame(
        [("g1", dt.datetime(2024, 3, 1), "a")],
        "guid string, created_at timestamp, event_type string",
    )
    v1.write.mode("overwrite").parquet(path)
    v2 = spark.createDataFrame(
        [("g2", dt.datetime(2024, 3, 2), "b", "org-1")],
        "guid string, created_at timestamp, event_type string,"
        " organization_guid string",
    )
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    rows = {r["guid"]: r for r in merged.collect()}
    assert set(merged.columns) == {
        "guid", "created_at", "event_type", "organization_guid"
    }
    assert rows["g1"]["organization_guid"] is None
    assert rows["g2"]["organization_guid"] == "org-1"
