"""Custom STREAMING Python DataSource (Spark 4 API): the registry's
file feed as ``spark.readStream.format("mdx_file_feed")``.

Batch twin: sources/custom_source.py (same DataSource class API, batch
reader). This is the continuous-ingestion form of the reference's
polling loop — new files arriving at a registry endpoint become
micro-batches through a SimpleDataSourceStreamReader: the driver tracks
a monotonically increasing offset ({"i": rows-served}), ``read(start)``
serves the next slice and returns the advanced offset, and
``readBetweenOffsets`` replays a committed range deterministically on
recovery (the reader contract that makes the source exactly-once).

The fixture feed is finite (the 6 registry files, FEED_BATCH per
micro-batch); the drain loop stops the query once the sink holds the
full feed — the streaming-runtime analogue of trigger=availableNow,
which Python stream sources don't support yet.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.sources import registry as reg
from metadata_extractors_api_spark.store import memo, scratch_dir

FEED_SCHEMA = reg.FILES_SCHEMA
FEED_BATCH = 3  # rows per micro-batch -> the 6-file fixture drains in 2


class FileFeedDataSource(DataSource):
    """format('mdx_file_feed'): registry files as a stream."""

    @classmethod
    def name(cls) -> str:
        return "mdx_file_feed"

    def schema(self) -> str:
        return FEED_SCHEMA

    def simpleStreamReader(self, schema):
        return FileFeedReader()


class FileFeedReader(SimpleDataSourceStreamReader):
    # Plain-tuple snapshot (class attribute): the reader pickles by
    # value; referencing the registry module from read() would drag the
    # session-bound DataFrames it caches into the pickle (same
    # constraint as the batch RegistryReader).
    ROWS = list(reg.FILES)

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        s = start["i"]
        if s >= len(self.ROWS):
            return iter([]), {"i": s}
        e = min(s + FEED_BATCH, len(self.ROWS))
        return iter(self.ROWS[s:e]), {"i": e}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self.ROWS[start["i"] : end["i"]])


@register(
    "stream_custom_source",
    oracle=f"SELECT * FROM {reg.files_values_sql()}",
)
def stream_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion through a custom Python DataSource: the
    registry file feed arrives as offset-tracked micro-batches (2
    batches of FEED_BATCH) into an append-mode sink; the result is the
    complete feed, hash-checked against the same fixture literal that
    generated it. The offset/readBetweenOffsets contract (not the
    fixture) is the deliverable: swap ROWS for an HTTP poll against a
    real registry and the exactly-once replay semantics carry over."""
    memo(
        spark, "file_feed_source", lambda: spark.dataSource.register(FileFeedDataSource)
    )
    df = spark.readStream.format("mdx_file_feed").load()
    name = "s" + uuid.uuid4().hex[:12]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", scratch_dir("feed_ckpt_"))
            .trigger(processingTime="250 milliseconds")
            .start()
        )
        deadline = time.time() + 120
        while (
            time.time() < deadline
            and spark.table(name).count() < len(FileFeedReader.ROWS)
        ):
            time.sleep(0.25)
        q.stop()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)
