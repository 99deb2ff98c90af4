"""State-store reader (Spark 4 ``statestore`` data source): streaming
state OBSERVABILITY — audit what a streaming aggregation is actually
holding in its checkpoint, without touching the running query.

Production need: a continuously-running dedup/rollup stream (the
reference README's "parallel/continuous processing of many files",
README.md:95-96) accumulates per-key state for months; when counts look
wrong the operator must inspect the state itself, not re-derive it.
Spark 4 exposes every checkpointed state row as a DataFrame — this
query drains a real per-event-type counting stream into a checkpoint,
then reads the state back through the ``statestore`` source and checks
it against the batch truth: state(key).count must equal the batch
GROUP BY exactly. Any state-management bug (lost micro-batch, double
count, key corruption) diverges.

Scale: the state read distributes by state-store partition (one task
per shuffle partition of the original stream) — it is a scan of the
checkpoint, never a replay of the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.store import memo, scratch_dir
from metadata_extractors_api_spark.streaming.windows import _events_stream, drain


def _state_ckpt(spark: SparkSession, sf_dir: str) -> str:
    """Checkpoint of the drained per-event-type counting stream, shared
    by both queries below and drained once per session."""

    def build() -> str:
        ckpt = scratch_dir("state_ckpt_")
        ev = _events_stream(spark, sf_dir)
        agg = ev.groupBy("event_type").agg(F.count("*").alias("n"))
        # Pinned at 16 (NOT STREAM_PARTITIONS): the partition count is
        # part of this module's DECLARED OUTPUT — stream_state_metadata
        # reports num_partitions from this checkpoint and its oracle
        # asserts the literal 16.
        drain(
            spark,
            agg.writeStream.format("noop").outputMode("update"),
            partitions="16",
            checkpoint=ckpt,
        )
        return ckpt

    return memo(spark, ("state_ckpt", sf_dir), build)


@register(
    "stream_state_reader",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain a per-event-type counting stream to a checkpoint, then
    read the aggregation state back via the ``statestore`` data source
    and emit (event_type, n) from the STATE rows — which must equal
    the batch GROUP BY over the same fixture."""
    state = spark.read.format("statestore").load(_state_ckpt(spark, sf_dir))
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("bigint").alias("n"),
    )


@register(
    "stream_state_metadata",
    oracle="""
    SELECT CAST(0 AS BIGINT) AS operator_id,
           'stateStoreSave' AS operator_name,
           'default' AS state_store_name,
           CAST(16 AS BIGINT) AS num_partitions,
           CAST(0 AS BIGINT) AS min_batch_id,
           CAST(0 AS BIGINT) AS max_batch_id
    """,
)
def stream_state_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint topology audit via the ``state-metadata`` source:
    which stateful operators a checkpoint holds, under which store
    name, across how many partitions and batch ids. The drained
    counting stream (shared with ``stream_state_reader``) pins every
    value: ONE stateStoreSave operator, the 16 partitions the stream
    was configured with (state partitioning is FROZEN at first
    checkpoint — the operational fact this source exists to surface),
    and a single availableNow batch (id 0). The oracle states the
    expected topology as literals; a retention/partitioning regression
    in the drain path diverges."""
    md = spark.read.format("state-metadata").load(_state_ckpt(spark, sf_dir))
    return md.select(
        F.col("operatorId").cast("bigint").alias("operator_id"),
        F.col("operatorName").alias("operator_name"),
        F.col("stateStoreName").alias("state_store_name"),
        F.col("numPartitions").cast("bigint").alias("num_partitions"),
        F.col("minBatchId").cast("bigint").alias("min_batch_id"),
        F.col("maxBatchId").cast("bigint").alias("max_batch_id"),
    )
