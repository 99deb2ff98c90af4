"""Custom Python DataSource WRITER (Spark 4 API): the sink-side twin
of sources/custom_source.py's reader.

The reference's only "sink" is pickling one extraction result through
shared memory or dropping a sibling .json file
(/root/reference/marda_extractors_api/__init__.py:249-250, 348-368).
The Spark-native generalization is a user-defined distributed sink:
every partition's ``write(iterator)`` runs on an executor and emits a
WriterCommitMessage; the driver's ``commit(messages)`` finalizes the
job exactly once (or ``abort`` cleans up), which is the two-phase
protocol every real table format implements. Here the sink writes
JSON-lines shards plus a commit manifest, and the registered query
audits the committed output DISTRIBUTEDLY by reading the shards back.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)

from metadata_extractors_api_spark.catalog import load
from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.store import memo, scratch_dir

SINK_PARTS = 4  # explicit repartition -> deterministic shard count


class AuditSinkDataSource(DataSource):
    """format('mdx_audit_sink'): JSON-lines shards + commit manifest."""

    @classmethod
    def name(cls) -> str:
        return "mdx_audit_sink"

    def writer(self, schema, overwrite: bool):
        return AuditSinkWriter(self.options["path"], [f.name for f in schema])


class AuditSinkWriter(DataSourceWriter):
    def __init__(self, path: str, cols: list[str]):
        self.path = path
        self.cols = cols

    def write(self, iterator) -> WriterCommitMessage:
        """Executor-side: stream one partition to a uniquely-named
        shard; report (file, rows) for the driver's commit."""
        os.makedirs(self.path, exist_ok=True)
        name = f"shard-{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(os.path.join(self.path, name), "w") as fh:
            for row in iterator:
                fh.write(json.dumps(dict(zip(self.cols, row))) + "\n")
                n += 1
        msg = WriterCommitMessage()
        msg.file = name
        msg.rows = n
        return msg

    def commit(self, messages) -> None:
        """Driver-side: a write is visible only after the manifest
        lands -- readers ignore un-manifested shards, which is what
        makes partial/failed jobs invisible (exactly-once publish)."""
        manifest = {
            "files": sorted(m.file for m in messages),
            "rows": sum(m.rows for m in messages),
        }
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as fh:
            json.dump(manifest, fh)

    def abort(self, messages) -> None:
        for m in messages:
            try:
                os.remove(os.path.join(self.path, m.file))
            except OSError:
                pass


@register(
    "sink_custom_writer",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
               AS qty_cents,
           CAST(4 AS BIGINT) AS n_shards,
           TRUE AS manifest_ok
    FROM lineitem
    WHERE l_returnflag = 'R'
    """,
)
def sink_custom_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the returned-items slice through the custom two-phase
    Python DataSource sink, then audit the COMMITTED output by reading
    the shards back distributedly (spark.read.json over the manifest's
    files only). The audit recomputes row count and an exact integer
    checksum from the shard BYTES, so a shard lost between write() and
    commit(), a double-committed partition, or a manifest/shard
    mismatch all hash-fail against the oracle's direct aggregation of
    the same slice. Scale: shards stream row-by-row on executors (no
    partition materialization), the manifest is O(partitions), and the
    audit is an ordinary distributed scan of the written files."""
    memo(
        spark, "audit_sink", lambda: spark.dataSource.register(AuditSinkDataSource)
    )
    out_dir = scratch_dir("audit_sink_")
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .repartition(SINK_PARTS)
    )
    li.write.format("mdx_audit_sink").option("path", out_dir).mode(
        "append"
    ).save()
    with open(os.path.join(out_dir, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    shards = [os.path.join(out_dir, f) for f in manifest["files"]]
    back = spark.read.json(shards)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("bigint"))
        .cast("bigint")
        .alias("qty_cents"),
        F.lit(len(shards)).cast("bigint").alias("n_shards"),
        (F.count(F.lit(1)) == F.lit(manifest["rows"])).alias("manifest_ok"),
    )


class AuditStreamSinkDataSource(DataSource):
    """format('mdx_audit_stream_sink'): per-micro-batch committed shards."""

    @classmethod
    def name(cls) -> str:
        return "mdx_audit_stream_sink"

    def streamWriter(self, schema, overwrite: bool):
        return AuditStreamSinkWriter(
            self.options["path"], [f.name for f in schema]
        )


class AuditStreamSinkWriter(DataSourceStreamWriter):
    """Streaming two-phase sink: write() streams each partition of each
    micro-batch to a shard; commit(messages, batchId) publishes that
    batch's manifest. A batch replayed after failure overwrites its own
    manifest (idempotent publish keyed by batchId), which is how an
    exactly-once streaming sink composes with checkpointed offsets."""

    def __init__(self, path: str, cols: list[str]):
        self.path = path
        self.cols = cols

    def write(self, iterator) -> WriterCommitMessage:
        os.makedirs(self.path, exist_ok=True)
        name = f"shard-{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(os.path.join(self.path, name), "w") as fh:
            for row in iterator:
                fh.write(json.dumps(dict(zip(self.cols, row))) + "\n")
                n += 1
        msg = WriterCommitMessage()
        msg.file = name
        msg.rows = n
        return msg

    def commit(self, messages, batchId: int) -> None:
        manifest = {
            "batch": batchId,
            "files": sorted(m.file for m in messages),
            "rows": sum(m.rows for m in messages),
        }
        with open(
            os.path.join(self.path, f"_MANIFEST-{batchId}.json"), "w"
        ) as fh:
            json.dump(manifest, fh)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            try:
                os.remove(os.path.join(self.path, m.file))
            except OSError:
                pass


@register(
    "stream_custom_sink",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events
    GROUP BY event_type
    """,
)
def stream_custom_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events file stream through the custom STREAMING
    Python DataSource sink (per-micro-batch two-phase commit), then
    audit the union of all committed manifests by reading every
    published shard back distributedly and aggregating per event type.
    Exactly-once evidence is content-level: the byte-level readback
    must reproduce the per-type counts and exact integer value
    checksums of the source table -- duplicated or lost micro-batches
    cannot hash-match. Completes the custom-DataSource surface: batch
    reader (scan_custom_source), stream reader (stream_custom_source),
    batch writer (sink_custom_writer), stream writer (this)."""
    from metadata_extractors_api_spark.streaming.windows import (
        _events_stream,
        _nanos_conf,
    )

    memo(
        spark,
        "audit_stream_sink",
        lambda: spark.dataSource.register(AuditStreamSinkDataSource),
    )
    out_dir = scratch_dir("audit_ssink_")
    ev = _events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        with _nanos_conf(spark):
            q = (
                ev.writeStream.format("mdx_audit_stream_sink")
                .option("path", out_dir)
                .option("checkpointLocation", scratch_dir("ckpt_"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shards = []
    for f in sorted(os.listdir(out_dir)):
        if f.startswith("_MANIFEST-"):
            with open(os.path.join(out_dir, f)) as fh:
                shards += [
                    os.path.join(out_dir, s) for s in json.load(fh)["files"]
                ]
    back = spark.read.json([s for s in shards if os.path.getsize(s) > 0])
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
    )
