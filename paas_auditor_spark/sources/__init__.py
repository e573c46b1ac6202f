from paas_auditor_spark.sources.tables import load_table  # noqa: F401
