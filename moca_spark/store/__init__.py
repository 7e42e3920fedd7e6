from moca_spark.store.lakehouse import EventLogStore  # noqa: F401
