from ghcrawler_datalake_etl_spark.functions.core import (
    greatest_touched,
    latest_by,
    pii_hash,
    stable_long_hash,
)

__all__ = [
    "greatest_touched",
    "latest_by",
    "pii_hash",
    "stable_long_hash",
]
