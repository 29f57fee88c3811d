from ghcrawler_datalake_etl_spark.functions.core import (
    get_bool,
    get_long,
    get_string,
    get_timestamp,
    greatest_touched,
    latest_by,
    pii_hash,
    stable_long_hash,
)

__all__ = [
    "get_bool",
    "get_long",
    "get_string",
    "get_timestamp",
    "greatest_touched",
    "latest_by",
    "pii_hash",
    "stable_long_hash",
]
