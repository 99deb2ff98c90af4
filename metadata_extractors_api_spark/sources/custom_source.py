"""Custom Python DataSource (Spark 4 API): the registry as a pluggable
``spark.read.format("mdx_registry")`` source.

This is the modern Spark form of the reference's REST ingestion
(GET /extractors, __init__.py:116-123): instead of driver-side requests
glued to dict parsing, a DataSourceReader yields typed rows inside the
scan itself -- schema-first and usable from SQL. Here the reader serves
the local fixture in one partition (the registry is archived and tiny);
the production path shards real HTTP calls via a partitions() override.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader

from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.sources import registry as reg
from metadata_extractors_api_spark.store import memo

REGISTRY_SOURCE_SCHEMA = (
    "id string, n_supported int, n_usage int, first_package string"
)


class RegistryDataSource(DataSource):
    """format('mdx_registry'): extractor summaries as a scan."""

    @classmethod
    def name(cls) -> str:
        return "mdx_registry"

    def schema(self) -> str:
        return REGISTRY_SOURCE_SCHEMA

    def reader(self, schema):
        return RegistryReader()


class RegistryReader(DataSourceReader):
    # Snapshot the fixture into a CLASS ATTRIBUTE of plain tuples: the
    # reader pickles by value, and referencing the registry MODULE from
    # read() would drag the session-bound DataFrames it caches through
    # store.memo into the pickle (SparkContext is unserializable).
    ROWS = [
        (
            eid,
            len(supported),
            len(usage),
            installation[0][3][0] if installation and installation[0][3] else None,
        )
        for eid, supported, usage, installation in reg.EXTRACTORS
    ]

    def read(self, partition):
        yield from self.ROWS


@register(
    "scan_custom_source",
    oracle=f"""
    WITH extractors AS (SELECT * FROM {reg.extractors_values_sql()})
    SELECT id,
           CAST(len(supported_filetypes) AS INT) AS n_supported,
           CAST(len(usage) AS INT) AS n_usage,
           installation[1].packages[1] AS first_package
    FROM extractors
    """,
)
def scan_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the registry through the custom Python DataSource and check
    it against the same fixture literals rendered as SQL -- proving the
    pluggable-source path delivers identical typed content."""
    # repeat registration only WARN-logs a replace, but there is no
    # reason to redo it every query call
    memo(
        spark, "registry_source", lambda: spark.dataSource.register(RegistryDataSource)
    )
    return spark.read.format("mdx_registry").load()
