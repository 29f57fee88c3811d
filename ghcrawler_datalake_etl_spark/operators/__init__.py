from ghcrawler_datalake_etl_spark.operators.patterns import (
    array_child,
    collection_refresh,
    snapshot_upsert,
)

__all__ = [
    "array_child",
    "collection_refresh",
    "snapshot_upsert",
]
