from mapreduce_distributed_systems_spark.sources.tables import (  # noqa: F401
    TABLES,
    load_table,
    load_tables,
    normalize_ts,
    spread_partitions,
)
