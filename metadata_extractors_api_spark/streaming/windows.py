"""Streaming window operators (SURVEY.md §2.B.9).

Origin: the reference's unimplemented plan item "parallel/continuous
processing of many files" (README.md:95-96) -- the natural Spark form is
a file-source stream with event-time windows and watermarks.

Each query replays the events fixture through a real file-source stream
(trigger=availableNow) into an in-memory sink and returns the final
batch DataFrame, so the driver can collect rows from a genuinely
streaming execution. Because availableNow drains the whole fixture, the
FINAL state of every query here is deterministic and oracle-checked
against batch SQL (incl. the watermark-drop policy: emitted windows are
exactly those ending before the final watermark).

Scale note: state stores partition by group key; watermarks bound state
size (late data beyond the delay is dropped), so the same topology runs
continuously on a cluster with bounded memory.
"""

from __future__ import annotations

import contextlib
import shutil
import uuid
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.store import memo, scratch_dir


@contextlib.contextmanager
def _nanos_conf(spark: SparkSession):
    """Scope spark.sql.legacy.parquet.nanosAsLong=true to a stream
    drain (the file source reads the ns-timestamp parquet per
    micro-batch against the declared BIGINT ts), restoring the previous
    session value afterwards so it doesn't leak."""
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)

EVENTS_SCHEMA_NANOS = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)
EVENTS_SCHEMA_MICROS = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, normalizing ts to a
    µs TimestampType (same normalization as catalog._load_events).

    The file source needs a declared schema, and the fixture has shipped
    with ts as both TIMESTAMP(NANOS) (stream-read as BIGINT under the
    nanosAsLong conf scoped to the drain in _run_to_table) and
    TIMESTAMP(MICROS) (stream-read as TIMESTAMP_NTZ): probe the footer
    with a one-off batch read to pick the matching schema."""
    try:
        batch = spark.read.parquet(f"{sf_dir}/events.parquet")
        nanos = dict(batch.dtypes).get("ts") == "bigint"
    except Exception:  # nanos footers fail plain schema inference
        nanos = True
    raw = (
        spark.readStream.schema(
            EVENTS_SCHEMA_NANOS if nanos else EVENTS_SCHEMA_MICROS
        )
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")  # file source needs a dir
        .load(sf_dir)
    )
    if nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _events_stream_batched(
    spark: SparkSession, sf_dir: str, n_files: int = 3,
    single_trigger: bool = False,
) -> DataFrame:
    """Events as a file stream split into ``n_files`` parts: by default
    drained as ``n_files`` micro-batches, or as one with
    ``single_trigger=True``.

    The fixture ships events as ONE parquet file, so an availableNow
    drain of ``_events_stream`` runs exactly one micro-batch and
    ``state.exists`` never turns true -- the cross-batch branch of
    every stateful fold was dead code (round 5 found a latent
    TypeError there: ``state.get()`` called the property's tuple).
    This helper splits events into ``n_files`` time-contiguous parquet
    files with strictly increasing modification times. By default it
    streams them with ``maxFilesPerTrigger=1``: the drain runs
    ``n_files`` micro-batches in event-time order and per-key state is
    genuinely revisited, so a query built on the default drain
    exercises its cross-batch path. Time-contiguous (not round-robin)
    chunks keep event-time monotone across batches -- the arrival order a
    continuous production stream actually has, and the assumption the
    EWMA fold documents.

    ``single_trigger=True`` drains the SAME split source in ONE
    availableNow micro-batch (no per-file trigger cap). Every stateful
    operator pays one state-store open/commit cycle per partition per
    micro-batch regardless of data volume, so a query whose fold is
    batch-count-invariant (monotone merges, carried-state folds whose
    output is the final state) pays that fixed cost once instead of
    ``n_files`` times — round-11 drain policy for the seven benched
    stream headliners. The cross-batch state path stays exercised by
    the remaining multi-batch twins (stream_ewma_tws is test-pinned to
    >= 2 batches), the checkpoint-restart harness, and the decade
    stress tool; batch-count invariance of each switched fold is
    oracle-certified (same DuckDB oracle, sweep-checked both SFs)."""
    d = _events_split_dir(spark, sf_dir, n_files)
    return _events_stream_from_dir(
        spark, d, files_per_trigger=None if single_trigger else 1
    )


def _events_split_dir(spark: SparkSession, sf_dir: str, n_files: int = 3) -> str:
    """Provision (once per session) the time-contiguous chunk directory
    used by `_events_stream_batched`; exposed separately so the restart
    tests can copy chunks into their own staging dir incrementally."""
    from metadata_extractors_api_spark.catalog import load

    def build() -> str:
        d = scratch_dir("evsplit_")
        ev = load(spark, sf_dir, "events")
        lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
        span = (hi - lo) / n_files
        for i in range(n_files):
            if i == 0:
                pred = F.col("ts") <= F.lit(lo + span)
            elif i == n_files - 1:
                pred = F.col("ts") > F.lit(lo + i * span)
            else:
                pred = (F.col("ts") > F.lit(lo + i * span)) & (
                    F.col("ts") <= F.lit(lo + (i + 1) * span)
                )
            part_dir = os.path.join(d, f"_part{i}")
            ev.filter(pred).coalesce(1).write.parquet(part_dir)
            part = next(
                f for f in os.listdir(part_dir) if f.endswith(".parquet")
            )
            dst = os.path.join(d, f"ev_{i:03d}.parquet")
            os.rename(os.path.join(part_dir, part), dst)
            # FileStreamSource (latestFirst=false) orders by mod time:
            # pin strictly increasing mtimes so batch i is chunk i.
            os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
            # Drop the writer scaffolding (_SUCCESS/.crc) so nothing but
            # the renamed ev_*.parquet files can ever match a glob, and
            # temp usage stays bounded to the chunks themselves.
            shutil.rmtree(part_dir, ignore_errors=True)
        return d

    return memo(spark, ("events_split", sf_dir, n_files), build)


def _events_stream_from_dir(
    spark: SparkSession, d: str, files_per_trigger: int | None = 1
) -> DataFrame:
    """File-stream reader over a chunk directory produced by
    `_events_split_dir` (ev_*.parquet, one file per micro-batch by
    default; ``files_per_trigger=None`` removes the per-trigger cap so
    an availableNow drain processes every chunk in one micro-batch)."""
    reader = (
        spark.readStream.schema(
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
        )
        .format("parquet")
        .option("pathGlobFilter", "ev_*.parquet")
    )
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.load(d)


def stream_shuffle_partitions() -> str:
    """Stateful-stream shuffle/state-store partition count, scoped to
    each stream's lifetime (a streaming query pins its state
    partitioning at the first checkpoint, so this is a per-query-run
    sizing decision, not a session default).

    AQE does not coalesce STREAMING aggregations, so every stateful
    operator pays one state-store instance (open + commit + maintenance
    file I/O) per partition per micro-batch regardless of data volume.
    Size it to the keyed-state volume: the fixtures' per-operator state
    is thousands of keys, where 8 stores already saturate the commit
    path (measured at sf0.1: 16 -> 8 cut stream_scd2_build 4.56->3.19 s,
    stream_hll_distinct 3.26->2.48 s, stream_tumbling 1.11->0.83 s,
    with 4 regressing the pandas-heavy markov fold — 8 is the local
    floor, not a magic constant). A production deployment sizes this
    up front via SPARK_GRAFT_STREAM_SHUFFLE to match its key
    cardinality and executor count."""
    return os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8")


def _run_to_table(stream_df: DataFrame, spark: SparkSession, mode: str) -> DataFrame:
    """Drain the stream into a memory sink and return the result table
    (shuffle partitions scoped down for the stream's lifetime — see
    stream_shuffle_partitions)."""
    name = "s" + uuid.uuid4().hex[:12]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", stream_shuffle_partitions())
    try:
        with _nanos_conf(spark):
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", scratch_dir("ckpt_"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


@register(
    "stream_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute window count+sum per event_type with a 1-hour
    watermark (batch twin: win_time_tumbling_batch, sql-checked)."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(14,2)")), 2)
        .cast("double")
        .alias("sum_value"),
    )
    out = agg.select(
        F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
    )
    return _run_to_table(out, spark, "complete")


@register(
    "stream_sliding",
    oracle="""
    WITH starts AS (
      SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                     time_bucket(INTERVAL '5 minutes', ts) - INTERVAL 5 MINUTE])
             AS window_start
      FROM events)
    SELECT window_start, COUNT(*) AS n FROM starts GROUP BY window_start
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10 min length, 5 min slide): each event lands in
    two windows."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w")).agg(
        F.count("*").alias("n")
    )
    out = agg.select(F.col("w.start").alias("window_start"), "n")
    return _run_to_table(out, spark, "complete")


@register(
    "stream_session",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked)
    SELECT date_trunc('milliseconds', MIN(ts)) AS session_start,
           date_trunc('milliseconds', MAX(ts)) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user (30-minute gap): dynamic, data-driven
    window extents -- the 'lab session' grouping of instrument events."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    out = agg.select(
        F.date_trunc("millisecond", F.col("w.start")).alias("session_start"),
        F.date_trunc("millisecond", F.col("w.end")).alias("session_end"),
        "user_id",
        "n_events",
    )
    return _run_to_table(out, spark, "complete")


@register(
    "stream_late",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           COUNT(*) AS n
    FROM events
    GROUP BY 1
    HAVING window_start + INTERVAL 10 MINUTE
           <= (SELECT max(ts) FROM events) - INTERVAL 30 MINUTE
    """,
)
def stream_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + append mode: only windows the watermark has passed
    are emitted -- the out-of-order-instrument-upload policy. Oracle:
    the emitted set is exactly the windows whose end precedes the final
    watermark (global max ts - 30 min); with microsecond timestamps an
    exact end==watermark tie is measure-zero, so strictness cannot flip
    a window."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    agg = ev.groupBy(F.window("ts", "10 minutes").alias("w")).agg(
        F.count("*").alias("n")
    )
    out = agg.select(F.col("w.start").alias("window_start"), "n")
    return _run_to_table(out, spark, "append")


@register(
    "stream_foreach_sink",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE)
               AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_foreach_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch lands as parquet through
    arbitrary batch-writer logic (the escape hatch for sinks Structured
    Streaming lacks natively -- upserts, multi-table fanout, JDBC).
    Exactly-once comes from idempotent per-batch-id paths + the
    checkpoint; here each batch writes parquet partitioned by batch id,
    then the result is read back and aggregated."""
    import os

    out = scratch_dir("foreach_")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent: re-delivery of a batch overwrites the same path
        batch_df.write.mode("overwrite").parquet(os.path.join(out, f"b{batch_id}"))

    ev = _events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    with _nanos_conf(spark):
        q = (
            ev.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", scratch_dir("ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    back = spark.read.parquet(os.path.join(out, "b*"))
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(14,2)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "stream_join",
    oracle="""
    SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id AS p_user
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts
    """,
)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases joined to same-user clicks
    within the preceding 10 minutes, both sides watermarked so the join
    state is bounded (clicks older than watermark+interval are evicted).
    The streaming twin of join_range_interval's batch plan."""
    ev1 = _events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    ev2 = _events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    purchases = ev1.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = ev2.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 10 MINUTES "
            "AND c_ts <= p_ts"
        ),
    ).select("p_id", "c_id", "p_user")
    return _run_to_table(joined, spark, "append")


@register(
    "stream_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a per-user
    running profile (event count + running max value) maintained in
    explicit state across micro-batches -- the construct for stateful
    logic that windows/dedup can't express (the reference has no
    analogue; this is the 'continuous extraction monitor' surface).
    State is keyed per user and bounded by processing-time timeout at
    cluster scale."""
    import pandas as pd

    def update(key, pdfs, state):
        n, vmax = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                vmax = max(vmax, float(pdf["value"].max()))
        state.update((n, vmax))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [vmax]}
        )

    ev = _events_stream_batched(spark, sf_dir).select("user_id", "value")
    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, max_value double",
        stateStructType="n bigint, vmax double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    # The update-mode sink records one row per key per micro-batch; the
    # counters are monotone, so the final state is the per-key max.
    updates = _run_to_table(out, spark, "update")
    return updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("max_value").alias("max_value")
    )


@register(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup keyed on (user_id, event_type) within the
    watermark -- the 're-uploaded file' guard. State expires with the
    watermark, so memory stays bounded on an infinite stream. Emits the
    surviving KEY SET (which physical row survives is a benign race
    across parallel tasks; the key set is the deterministic contract)."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    out = deduped.select("user_id", "event_type")
    return _run_to_table(out, spark, "append")


@register(
    "stream_incremental_restart",
    oracle="SELECT doc_id, source FROM documents",
)
def stream_incremental_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once INCREMENTAL ingestion across restarts: the corpus
    arrives in two deliveries; the stream drains delivery 1 with
    trigger=availableNow into a transactional parquet sink, STOPS, the
    second delivery lands, and a new query started from the SAME
    checkpoint processes only the new files. The result is the full
    corpus with no duplicates and no gaps -- the property that lets a
    100 TB ingest pipeline run as a cron of cheap availableNow drains
    (pay only for new data) instead of a 24/7 cluster, with the
    checkpoint + file-sink transaction log (not rerun discipline)
    guaranteeing exactly-once. Restart recovery is the same mechanism:
    a crashed drain resumes from the checkpoint without replaying
    committed files into the sink."""
    import os

    from metadata_extractors_api_spark.catalog import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    base = scratch_dir("incr_")
    in_dir = os.path.join(base, "in")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")

    def drain() -> None:
        q = (
            spark.readStream.schema("doc_id BIGINT, source STRING")
            .parquet(in_dir)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", stream_shuffle_partitions()
    )
    try:
        docs.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(in_dir)
        drain()
        docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(in_dir)
        drain()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.parquet(sink)


@register(
    "stream_cdc_merge",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    last AS (SELECT * FROM ranked WHERE rn = 1)
    SELECT user_id, event_type AS last_op, ts AS last_ts, value AS last_value
    FROM last
    WHERE event_type <> 'error'
    """,
)
def stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of cdc_merge_apply: last-writer-wins upsert state
    maintained per key with applyInPandasWithState while the change
    stream drains. Each key's state is the (ts, event_id, op, value) of
    the winning change so far -- (ts, event_id) gives the same total
    order as the batch window, so replays and micro-batch boundaries
    cannot flip a race. The update-mode sink records one winner per key
    per micro-batch; the final winner is the (ts, event_id)-max row per
    key, and delete-wins keys ('error') drop at the end exactly like
    the batch form -- the oracle IS cdc_merge_apply's. At scale this is
    the continuously-maintained materialized upsert view; state size is
    one row per live key."""
    import pandas as pd

    def update(key, pdfs, state):
        if state.exists:
            ts_us, eid, op, val = state.get
        else:
            ts_us, eid, op, val = -1, -1, "", float("nan")
        for pdf in pdfs:
            for r_ts, r_eid, r_op, r_val in zip(
                pdf["ts_us"], pdf["event_id"], pdf["event_type"], pdf["value"]
            ):
                if (r_ts, r_eid) > (ts_us, eid):
                    ts_us, eid, op, val = int(r_ts), int(r_eid), r_op, float(r_val)
        state.update((ts_us, eid, op, val))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "ts_us": [ts_us],
                "event_id": [eid],
                "last_op": [op],
                "last_value": [val],
            }
        )

    ev = _events_stream_batched(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id bigint, ts_us bigint, event_id bigint, "
            "last_op string, last_value double"
        ),
        stateStructType="ts_us bigint, event_id bigint, op string, value double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    updates = _run_to_table(out, spark, "update")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("last_op") != "error"))
        .select(
            "user_id",
            "last_op",
            F.timestamp_micros("ts_us").alias("last_ts"),
            "last_value",
        )
    )


@register(
    "stream_topk_windowed",
    oracle="""
    WITH wc AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT window_start, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n DESC, event_type) AS rk
      FROM wc)
    SELECT strftime(window_start, '%Y-%m-%d %H') AS window_start,
           event_type, n, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 2
    ORDER BY 1, rk
    """,
)
def stream_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: hourly tumbling counts per event type maintain
    incrementally in the stream (watermarked state), and the top-2
    ranking runs on the SERVING side over the materialized window
    results -- the standard split, because ranking is not an
    incremental aggregate (a late event can reorder a window, so the
    rank belongs to read time, not state-update time). The serving
    rank partitions by window (parallel, window-count-sized); the
    oracle computes the same windows + rank in batch."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").cast("bigint").alias("n"))
    out = agg.select(F.col("w.start").alias("ws"), "event_type", "n")
    final = _run_to_table(out, spark, "complete")
    rk_w = Window.partitionBy("ws").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        final.withColumn("rk", F.row_number().over(rk_w).cast("bigint"))
        .filter(F.col("rk") <= 2)
        .select(
            F.date_format("ws", "yyyy-MM-dd HH").alias("window_start"),
            "event_type",
            "n",
            "rk",
        )
        .orderBy("window_start", "rk")
    )


@register(
    "stream_ewma",
    oracle="""
    WITH h AS (
      SELECT event_type,
             epoch_us(ts) // 3600000000 AS bh,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, bh),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bh) AS rn
      FROM h),
    mx AS (SELECT event_type, MAX(rn) AS mrn FROM r GROUP BY event_type),
    j AS (
      SELECT a.event_type, a.bh, m.mrn,
             CAST(SUM(b.cnt * CAST(pow(2, 15 - (a.rn - b.rn)) AS BIGINT))
                  AS BIGINT) AS ewma_num,
             CAST(SUM(CAST(pow(2, 15 - (a.rn - b.rn)) AS BIGINT))
                  AS BIGINT) AS w_sum
      FROM r a
      JOIN mx m ON m.event_type = a.event_type AND a.rn = m.mrn
      JOIN r b ON b.event_type = a.event_type
              AND b.rn BETWEEN a.rn - 15 AND a.rn
      GROUP BY a.event_type, a.bh, m.mrn)
    SELECT event_type, CAST(bh AS BIGINT) AS bh,
           CAST(mrn AS BIGINT) AS n_obs, ewma_num, w_sum
    FROM j
    """,
)
def stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``timeseries_ewma``: a per-event-type EWMA of
    hourly volume maintained as explicit state across micro-batches
    (applyInPandasWithState). State is the last 16 observed (hour,
    count) pairs per key — exactly the truncated closed form's
    support — so memory per key is bounded forever; each batch merges
    its hourly counts into the kept window and re-emits the current
    (ewma_num, w_sum) fold. Because the fold only ever depends on
    those 16 pairs, the FINAL emission after the availableNow drain
    must equal the batch operator's last row per key — the sql oracle
    states that equality (batch EWMA restricted to each type's newest
    hour). Update-mode emissions are selected to the final state via
    max_by on the monotone observed-hours counter.
    """
    import pandas as pd

    def update(key, pdfs, state):
        counts: dict[int, int] = {}
        n_prev = 0
        n_emit = 0
        if state.exists:
            bhs, cnts, n_prev, n_emit = state.get
            counts = dict(zip(bhs, cnts))
        for pdf in pdfs:
            for bh, c in pdf.groupby("bh")["bh"].count().items():
                counts[int(bh)] = counts.get(int(bh), 0) + int(c)
        hours = sorted(counts)
        # n_obs counts DISTINCT hours ever observed: previous total plus
        # hours newly appeared this batch (event-time replay only ever
        # appends at or after the kept window, so a dropped hour cannot
        # reappear and double-count).
        n_kept_prev = len(state.get[0]) if state.exists else 0
        n_obs = n_prev + max(len(hours) - n_kept_prev, 0)
        kept = hours[-16:]
        n = len(kept)
        num = sum(counts[b] << (i + 16 - n) for i, b in enumerate(kept))
        wsum = (1 << 16) - (1 << (16 - n))
        # n_emit increments on EVERY update call (n_obs alone is only
        # non-strictly monotone: a batch landing entirely in
        # already-observed hours changes the fold but not n_obs, and a
        # tie would make the final-row max_by selection nondeterministic
        # -- worse, each max_by resolves its tie independently).
        n_emit += 1
        state.update(
            (kept, [counts[b] for b in kept], n_obs, n_emit)
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "bh": [kept[-1]],
                "n_obs": [n_obs],
                "ewma_num": [num],
                "w_sum": [wsum],
                "n_emit": [n_emit],
            }
        )

    ev = _events_stream_batched(spark, sf_dir).select(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("bh")
    )
    out = ev.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, bh bigint, n_obs bigint, "
            "ewma_num bigint, w_sum bigint, n_emit bigint"
        ),
        stateStructType=(
            "bhs array<bigint>, cnts array<bigint>, n_obs bigint, "
            "n_emit bigint"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    updates = _run_to_table(out, spark, "update")
    # one row per key per micro-batch; n_emit is STRICTLY monotone, so
    # the final state is the unique max-n_emit row per key.
    return updates.groupBy("event_type").agg(
        F.max_by("bh", "n_emit").cast("bigint").alias("bh"),
        F.max_by("n_obs", "n_emit").cast("bigint").alias("n_obs"),
        F.max_by("ewma_num", "n_emit").cast("bigint").alias("ewma_num"),
        F.max_by("w_sum", "n_emit").cast("bigint").alias("w_sum"),
    )


@register(
    "stream_static_join",
    oracle="""
    WITH cust AS (
      SELECT c_custkey, c_nationkey FROM customer),
    j AS (
      SELECT n.n_name, e.value
      FROM events e
      JOIN cust c ON c.c_custkey = (e.user_id % 1500) + 1
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE e.event_type = 'purchase')
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM j GROUP BY n_name
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-to-STATIC enrichment join — the most common production
    streaming join (every event stream is enriched against slowly
    changing dimensions before aggregation; stream-STREAM joins are
    the rare case): purchase events joined per micro-batch against the
    static customer->nation dimensions, then a per-nation running
    revenue aggregation. The static side needs no watermark and holds
    no join state — Spark broadcasts it into each micro-batch (the
    batch plan inside the micro-batch is a plain BroadcastHashJoin),
    so state size is the AGGREGATION's, not the join's. The
    user->customer key bridge is the fixture's synthetic FK (user_id
    mod |customer|). At 100 TB the dimension refreshes by swapping the
    static table between restarts, or graduates to a Delta-style CDC
    stream — the plan shape here is the first rung. Drains the
    multi-micro-batch source, so the enrichment genuinely runs once
    per batch; final counts equal the batch join, stated by the
    oracle."""
    from metadata_extractors_api_spark.catalog import load

    ev = _events_stream_batched(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n_cust = 1500  # fixture customer cardinality at the base SF unit
    enriched = (
        ev.withColumn("ckey", (F.col("user_id") % n_cust) + 1)
        .join(F.broadcast(cust), F.col("ckey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    agg = enriched.groupBy("n_name").agg(
        F.count("*").cast("bigint").alias("n_purchases"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
    )
    return _run_to_table(agg, spark, "complete")


@register(
    "stream_pattern_funnel",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id)
    SELECT user_id, n_events,
           regexp_matches(s, 's[^pe]*v[^pe]*c[^pe]*p') AS matched
    FROM seq
    """,
)
def stream_pattern_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of win_pattern_funnel_regex: per-user event-code
    sequences ACCUMULATE in keyed state across genuinely multiple
    micro-batches (the batched file source), and the funnel regex
    evaluates on the serving side over the final accumulated string —
    the CEP split: sequence state is incremental, pattern evaluation
    happens at read time. Final state must equal the batch operator's
    answer exactly (same oracle), the batch/stream symmetry contract
    every streaming twin in this module honors.

    Order correctness across batches: the batched source's chunks are
    time-contiguous with pinned mtimes (see _events_stream_batched),
    so folding each micro-batch's (ts, event_id)-sorted codes through
    the stored automaton reproduces the global-order evaluation;
    equal-ts ties cannot straddle chunks (chunk predicates cut on ts).
    State is the MATCH-AUTOMATON position, not the code string: the
    NFA active-state set of the funnel regex packed into one bitmask
    plus the absorbing matched flag — CONSTANT bytes per key no matter
    how many events the user produces (the proper CEP discipline; the
    density decade in tools/stress_stream_sf1.py asserts state bytes
    stay flat at 10x events over the SAME keys). The serving-time
    output (user_id, n_events, matched) is unchanged, so the batch
    oracle — the regex over the full accumulated sequence — still
    certifies the fold exactly."""
    ev = _events_stream_batched(spark, sf_dir)
    updates = _run_to_table(_pattern_funnel_updates(ev), spark, "update")
    return _pattern_funnel_serve(updates)


def _funnel_automaton_step(mask: int, matched: bool, code: str):
    """One NFA step of the funnel regex s[^pe]*v[^pe]*c[^pe]*p under
    SEARCH semantics (match anywhere). The active-state set is a
    3-bit mask — bit 0: matched 's' (inside the first [^pe]* span),
    bit 1: matched 'v', bit 2: matched 'c' — plus the absorbing
    ``matched`` flag; the implicit start state is always active (a
    new attempt can begin at any 's'). Stage bits survive a character
    only while it stays inside [^pe]*; 'p' from bit 2 completes the
    funnel. Constant work, constant state."""
    if matched:
        return 0, True
    alive = code != "p" and code != "e"
    new = 0
    if code == "s":
        new |= 1
    if mask & 1:
        if code == "v":
            new |= 2
        if alive:
            new |= 1
    if mask & 2:
        if code == "c":
            new |= 4
        if alive:
            new |= 2
    if mask & 4:
        if code == "p":
            return 0, True
        if alive:
            new |= 4
    return new, False


def _pattern_funnel_updates(ev: DataFrame) -> DataFrame:
    """The stateful half of stream_pattern_funnel: raw event stream in,
    per-user (n_events, matched) update stream out, state = the packed
    funnel-automaton position (one bitmask + flag — constant bytes per
    key, independent of events-per-user). Factored out so the
    checkpoint-restart test can drain it in two separately-started
    queries against one checkpoint."""
    import pandas as pd

    def update(key, pdfs, state):
        n, mask, matched = state.get if state.exists else (0, 0, False)
        mask, matched = int(mask), bool(matched)
        rows = []
        for pdf in pdfs:
            rows.extend(
                zip(pdf["ts_us"], pdf["event_id"], pdf["code"])
            )
        rows.sort(key=lambda r: (r[0], r[1]))
        for _, _, code in rows:
            mask, matched = _funnel_automaton_step(mask, matched, code)
        n += len(rows)
        state.update((n, mask, matched))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "matched": [matched]}
        )

    coded = ev.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.substring("event_type", 1, 1).alias("code"),
    )
    return coded.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, matched boolean",
        stateStructType="n bigint, mask bigint, matched boolean",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def _pattern_funnel_serve(updates: DataFrame) -> DataFrame:
    """Serving side of stream_pattern_funnel: keep each user's final
    update (max n_events — the counters are monotone); the funnel
    verdict is already folded into the automaton state, so serving is
    a projection."""
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "matched")
    )


from metadata_extractors_api_spark.operators.stats import hll_oracle_sql


def _hll_updates(ev: DataFrame) -> DataFrame:
    """The stateful half of stream_hll_distinct: raw key stream in,
    streaming per-bucket register-max stream out. Factored out so the
    decade stress tool (tools/stress_stream_sf1.py) drains the exact
    registered pipeline under an instrumented checkpoint."""
    from metadata_extractors_api_spark.operators.stats import hll_registers

    return hll_registers(ev, "user_id").groupBy("bucket").agg(
        F.max("mj").cast("bigint").alias("mj")
    )


@register(
    "stream_hll_distinct",
    oracle=hll_oracle_sql("user_id", "events"),
)
def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of agg_hll_distinct over events.user_id: each
    micro-batch folds its rows into the portable HLL register layout
    (bucket, leading-zero rank) and a STREAMING groupBy(bucket).max(mj)
    maintains the registers across batches — demonstrating the
    property that makes HLL the standard streaming cardinality sketch:
    registers merge by MAX, so micro-batch boundaries are invisible to
    the final state. The drained register table feeds the same
    estimate fold as the batch operator (shared hll_estimate), and the
    result must equal the batch sketch over the full table exactly —
    enforced by the shared oracle text (hll_oracle_sql) in the
    registry.

    Scale shape: streaming state is HLL_M rows REGARDLESS of stream
    volume or key cardinality — the bounded-state contrast to
    stream_dedup's watermark-bounded exact state."""
    from metadata_extractors_api_spark.operators.stats import (
        HLL_M,
        hll_estimate,
        hll_registers,
    )

    ev = _events_stream_batched(
        spark, sf_dir, single_trigger=True
    ).select("user_id")
    updates = _run_to_table(_hll_updates(ev), spark, "update")
    # update-mode sink keeps one row per bucket per batch it changed
    # in; register maxima are monotone, so the final register is the
    # per-bucket max across updates.
    reg = updates.groupBy("bucket").agg(F.max("mj").alias("mj"))
    est = hll_estimate(spark, reg)
    from metadata_extractors_api_spark.catalog import load

    ex = (
        load(spark, sf_dir, "events")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    )
    return est.crossJoin(F.broadcast(ex)).select(
        F.lit(HLL_M).cast("bigint").alias("m"),
        "n_exact",
        "n_filled",
        "sum_scaled",
        "est",
    )


from metadata_extractors_api_spark.operators.stats import cms_oracle_sql


def _cms_bucket(d: int, key) -> F.Column:
    """The engine-portable md5-prefix CMS bucket for hash row ``d``
    (shared by the streaming sketch build and the point-query probes)."""
    from metadata_extractors_api_spark.operators.stats import CMS_W

    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cms{d}:"), key)), 1, 8),
            16,
            10,
        ).cast("bigint")
        % CMS_W
    )


def _cms_updates(ev: DataFrame) -> DataFrame:
    """The stateful half of stream_cms_heavy_hitters: key stream in,
    streaming per-(row, bucket) counter stream out. Factored out so
    the decade stress tool drains the exact registered pipeline."""
    from metadata_extractors_api_spark.operators.stats import CMS_D

    cells = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_bucket(d, F.col("key")).alias("bucket"),
                    )
                    for d in range(CMS_D)
                ]
            )
        ).alias("c")
    ).select("c.d", "c.bucket")
    return cells.groupBy("d", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("total")
    )


@register(
    "stream_cms_heavy_hitters",
    oracle=cms_oracle_sql("user_id", "events"),
)
def stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of agg_cms_heavy_hitters over events.user_id:
    each micro-batch explodes its rows into CMS_D (row, bucket) cells
    and a STREAMING groupBy count maintains the sketch across batches
    — the ADDITIVE-merge counterpart to stream_hll_distinct's MAX
    merge (the two merge algebras every distributed sketch falls
    into). Counters are monotone, so the final sketch is the per-cell
    max across update-mode emissions; the top-10 true keys are then
    point-queried exactly as in the batch twin, and the result must
    equal the batch sketch bit-for-bit (shared oracle shape).

    Streaming state: CMS_D * CMS_W counter rows regardless of key
    cardinality or stream length."""
    from metadata_extractors_api_spark.catalog import load
    from metadata_extractors_api_spark.operators.stats import CMS_D

    ev = _events_stream_batched(spark, sf_dir, single_trigger=True).select(
        F.col("user_id").cast("string").alias("key")
    )
    updates = _run_to_table(_cms_updates(ev), spark, "update")
    sketch = updates.groupBy("d", "bucket").agg(
        F.max("total").cast("bigint").alias("total")
    )
    exact = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("user_id").cast("string").alias("key"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
    )
    top = exact.orderBy(F.desc("true_cnt"), F.asc("key")).limit(10)
    probes = None
    for d in range(CMS_D):
        p = top.select(
            "key",
            "true_cnt",
            F.lit(d).alias("d"),
            _cms_bucket(d, F.col("key")).alias("bucket"),
        )
        probes = p if probes is None else probes.unionByName(p)
    est = (
        probes.join(sketch, ["d", "bucket"])
        .groupBy("key", "true_cnt")
        .agg(F.min("total").cast("bigint").alias("est_cnt"))
    )
    return est.select(
        "key",
        "true_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("true_cnt")).cast("bigint").alias("overest"),
    )


def _scd2_updates(ev: DataFrame) -> DataFrame:
    """The stateful half of stream_scd2_build: raw event stream in,
    per-user SCD2 change-log stream out (one row per suppressed-
    duplicate state change). Factored out so the decade stress tool
    drains the exact registered pipeline."""
    import pandas as pd

    def update(key, pdfs, state):
        last, ver = state.get if state.exists else (None, 0)
        rows = []
        for pdf in pdfs:
            rows.extend(
                zip(pdf["ts_us"], pdf["event_id"], pdf["event_type"])
            )
        rows.sort(key=lambda r: (r[0], r[1]))
        out_t, out_s, out_v = [], [], []
        for ts_us, _eid, et in rows:
            if last is None or et != last:
                ver += 1
                out_t.append(ts_us)
                out_s.append(et)
                out_v.append(ver)
                last = et
        state.update((last, ver))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_t),
                "state": out_s,
                "valid_from_us": out_t,
                "version": out_v,
            }
        )

    coded = ev.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
    )
    return coded.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id bigint, state string, valid_from_us bigint, "
            "version bigint"
        ),
        stateStructType="last string, ver bigint",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


@register(
    "stream_scd2_build",
    oracle="""
    WITH ch AS (
      SELECT user_id, event_type, value, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    eff AS (
      SELECT user_id, event_type, ts, event_id
      FROM ch
      WHERE prev_type IS NULL OR event_type <> prev_type),
    v AS (
      SELECT user_id, event_type,
             epoch_us(ts) AS valid_from_us,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
               AS valid_to_us,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT)
               AS version
      FROM eff)
    SELECT user_id, event_type AS state, valid_from_us, valid_to_us,
           version, valid_to_us IS NULL AS is_current
    FROM v
    """,
)
def stream_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of scd2_build_history: per-user keyed state
    tracks (last_state, version, last_change_ts) across micro-batches
    and emits one row per SUPPRESSED-duplicate state change as it
    happens — the continuously-maintained SCD2 dimension a CDC
    pipeline keeps warm instead of rebuilding nightly. valid_to
    closes at serving time (lead over the emitted change log, a keyed
    window), because in a live dimension the current row's end is
    unknowable until the next change arrives — exactly why SCD2
    serving always derives valid_to rather than storing it.

    The batch oracle is scd2_build_history's verbatim: the change log
    a restartable stream accumulates must equal the nightly batch
    build row-for-row (the batch/stream symmetry contract). State per
    user is three scalars — bounded like every keyed fold here."""
    log = _run_to_table(
        _scd2_updates(
            _events_stream_batched(spark, sf_dir, single_trigger=True)
        ),
        spark,
        "append",
    )
    w = Window.partitionBy("user_id").orderBy("valid_from_us", "version")
    return log.select(
        "user_id",
        "state",
        "valid_from_us",
        F.lead("valid_from_us").over(w).alias("valid_to_us"),
        "version",
    ).withColumn("is_current", F.col("valid_to_us").isNull())


from metadata_extractors_api_spark.operators.training import (
    SHARD_N,
    _shard_col,
    _shard_oracle_sql,
)


@register(
    "stream_shard_router",
    oracle=_shard_oracle_sql("CAST(user_id AS VARCHAR)", "events", "events"),
)
def stream_shard_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of shard_consistent_hash: the event firehose is
    routed to its consistent-hash shard AS IT ARRIVES (the 100 TB
    ingest topology — each micro-batch's rows go to the downstream
    partition that owns their key) and a streaming groupBy maintains
    the per-shard delivery census across micro-batches. Assignment is
    the SAME pure-column ring expression as the batch router (shared
    _shard_col + shared oracle text via _shard_oracle_sql), so the
    drained census must equal the batch census exactly.

    Streaming state: SHARD_N rows — the router's accounting is
    sketch-bounded like the CMS/HLL twins, regardless of stream
    volume or key cardinality."""
    ev = _events_stream_batched(spark, sf_dir, single_trigger=True).select(
        _shard_col(F.col("user_id").cast("string")).alias("shard")
    )
    counts = ev.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    final = _run_to_table(counts, spark, "complete")
    t = final.agg(F.sum("n_events").cast("bigint").alias("total"))
    from metadata_extractors_api_spark.operators.training import SHARD_VNODES

    return final.crossJoin(F.broadcast(t)).select(
        "shard",
        "n_events",
        F.expr("n_events * 1000000 div total").cast("bigint").alias("pct_e6"),
        F.lit(SHARD_VNODES).cast("bigint").alias("n_vnodes"),
    )


from metadata_extractors_api_spark.operators.stats import (
    BLOOM_K,
    BLOOM_WORDS,
    bloom_oracle_sql,
)


@register(
    "stream_bloom_membership",
    oracle=bloom_oracle_sql("user_id", "events"),
)
def stream_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of agg_bloom_membership over events.user_id: each
    micro-batch ORs its keys' bits into the bitmap via a streaming
    groupBy(word).bit_or — the OR-merge algebra, completing the sketch
    triptych beside stream_cms_heavy_hitters (ADD) and
    stream_hll_distinct (MAX). Bit sets are monotone, so the final
    bitmap is the per-word bit_or across update-mode emissions, and
    the 20 membership probes answered from the drained bitmap must
    equal the batch sketch bit for bit (shared bloom_oracle_sql).

    Streaming state: at most BLOOM_WORDS rows regardless of stream
    volume or key cardinality."""
    from metadata_extractors_api_spark.catalog import load

    bits = BLOOM_WORDS * 63

    def hpos(j: int, key):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"bloom{j}:"), key)), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % bits
        )

    ev = _events_stream_batched(spark, sf_dir, single_trigger=True).select(
        F.col("user_id").cast("string").alias("key")
    )
    cells = ev.select(
        F.explode(
            F.array(*[hpos(j, F.col("key")) for j in range(BLOOM_K)])
        ).alias("pos")
    ).select(
        F.expr("pos div 63").alias("word"),
        F.expr("pos % 63").cast("int").alias("bitpos"),
    )
    stream_bmp = cells.groupBy("word").agg(
        F.bit_or(F.expr("shiftleft(cast(1 as bigint), bitpos)"))
        .cast("bigint")
        .alias("bits")
    )
    updates = _run_to_table(stream_bmp, spark, "update")
    bmp = updates.groupBy("word").agg(
        F.bit_or("bits").cast("bigint").alias("bits")
    ).localCheckpoint()
    fill = bmp.agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n_set_bits")
    )
    keys = (
        load(spark, sf_dir, "events")
        .select(F.col("user_id").cast("string").alias("key"))
        .distinct()
    )
    present = keys.orderBy("key").limit(10).select(
        "key", F.lit(True).alias("true_member")
    )
    absent = spark.range(0, 10).select(
        F.concat(F.lit("absent:"), F.col("id").cast("string")).alias("key"),
        F.lit(False).alias("true_member"),
    )
    pr = present.unionByName(absent).select(
        "key",
        "true_member",
        F.explode(
            F.array(*[hpos(j, F.col("key")) for j in range(BLOOM_K)])
        ).alias("pos"),
    ).select(
        "key",
        "true_member",
        F.expr("pos div 63").alias("word"),
        F.expr("pos % 63").cast("int").alias("bitpos"),
    )
    tested = (
        pr.join(bmp, "word", "left")
        .select(
            "key",
            "true_member",
            (
                F.col("bits").isNotNull()
                & (
                    F.col("bits").bitwiseAND(
                        F.expr("shiftleft(cast(1 as bigint), bitpos)")
                    )
                    != 0
                )
            ).cast("int").alias("hit"),
        )
        .groupBy("key", "true_member")
        .agg((F.sum("hit") == BLOOM_K).alias("claimed_member"))
    )
    return tested.crossJoin(F.broadcast(fill)).select(
        "key", "claimed_member", "true_member", "n_set_bits"
    )


@register(
    "stream_markov_transition",
    oracle="""
    WITH tr AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events)
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY src), 6)
               AS p
    FROM tr WHERE dst IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def stream_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_markov_transition: the first-order
    transition matrix maintained INCREMENTALLY in keyed state. Like
    stream_pattern_funnel's constant automaton position,
    the state here is bounded: the per-user (prev, cur) count map plus the last
    event type seen — bounded by the TYPE ALPHABET squared per key, so
    state bytes do not grow with events-per-key at all: the strongest
    state bound in the twin family (the last-event carry is also what
    links transitions ACROSS micro-batch boundaries, the CEP property
    a per-batch lag window would silently drop; the restart test pins
    exactly that carry).

    Serving side: final state per user (monotone n, the module's
    convention), explode the TYPED count arrays (the state store's own
    array encoding — no JSON layer to bloat or silently null on a
    corrupt row), aggregate the global (src, dst) matrix, row-normalize
    over the tiny type-pair relation. Same oracle as the batch twin —
    the batch/stream symmetry contract."""
    ev = _events_stream_batched(spark, sf_dir, single_trigger=True)
    updates = _run_to_table(_markov_updates(ev), spark, "update")
    return _markov_serve(updates)


def _markov_updates(ev: DataFrame) -> DataFrame:
    """Stateful half of stream_markov_transition (factored out for the
    checkpoint-restart harness): raw event stream in, per-user
    (n_events, canonical transition-count string) update stream out.
    State carries the last event type so transitions spanning a
    micro-batch (or restart) boundary are counted exactly once."""
    import pandas as pd

    coded = ev.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
    )

    def update(key, pdfs, state):
        # State holds the transition counts as a TYPED per-key
        # dictionary matrix: the SORTED alphabet of event types this
        # key has seen (each type stored ONCE) plus a flat row-major
        # K x K bigint count matrix (cnts[i*K + j] = count of
        # alpha[i] -> alpha[j]). Typed arrays mean arbitrary
        # event_type values (containing '|', '>', ':', quotes, ...)
        # round-trip exactly with no serialization layer to parse or
        # silently corrupt, and the dictionary encoding keeps the
        # bytes down: measured at the sf1 decade this is ~3.5x smaller
        # than the naive (src, dst, cnt) triple-array state (whose
        # per-element UnsafeRow overhead made it 1.7x LARGER than the
        # JSON string it replaced — see BENCH.md round-10 note).
        # Bounded by alphabet + alphabet^2 per key, same as before.
        if state.exists:
            n, last, alpha, cnts = state.get
            alpha = list(alpha)
            k = len(alpha)
            counts = {}
            for i, s in enumerate(alpha):
                for j, d in enumerate(alpha):
                    c = int(cnts[i * k + j])
                    if c:
                        counts[(s, d)] = c
        else:
            n, last, counts = 0, None, {}
        rows = []
        for pdf in pdfs:
            rows.extend(zip(pdf["ts_us"], pdf["event_id"], pdf["event_type"]))
        rows.sort(key=lambda r: (r[0], r[1]))
        for _, _, et in rows:
            if last is not None:
                kk = (last, et)
                counts[kk] = counts.get(kk, 0) + 1
            last = et
        n += len(rows)
        alpha = sorted({t for pair in counts for t in pair})
        idx = {t: i for i, t in enumerate(alpha)}
        k = len(alpha)
        cnts = [0] * (k * k)
        for (s, d), c in counts.items():
            cnts[idx[s] * k + idx[d]] = c
        state.update((n, last, alpha, cnts))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "alpha": [alpha],
                "cnts": [cnts],
            }
        )

    return coded.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id bigint, n_events bigint, alpha array<string>,"
            " cnts array<bigint>"
        ),
        stateStructType=(
            "n bigint, last string, alpha array<string>,"
            " cnts array<bigint>"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def _markov_serve(updates: DataFrame) -> DataFrame:
    """Serving side of stream_markov_transition: keep each user's final
    state (max n_events — monotone), decode the per-key dictionary
    matrix (flat index i -> (alpha[i div K], alpha[i mod K])),
    aggregate the global transition matrix, row-normalize. The typed
    arrays need no parse step — the JSON-decode failure mode (PERMISSIVE
    from_json silently nulling a corrupt row) is structurally gone."""
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        updates.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.size("alpha") > 0))
        .withColumn("k", F.size("alpha").cast("bigint"))
        .select("alpha", "k", F.posexplode("cnts").alias("i", "cnt"))
        .filter(F.col("cnt") > 0)
        .select(
            F.element_at(
                "alpha", (F.expr("i div k") + 1).cast("int")
            ).alias("src"),
            F.element_at(
                "alpha", (F.col("i") % F.col("k") + 1).cast("int")
            ).alias("dst"),
            F.col("cnt").cast("bigint").alias("cnt"),
        )
    )
    # Typed-state guard: a count matrix whose length disagrees with
    # alphabet^2 would index past the alphabet and surface as a NULL
    # src/dst — fail loudly instead of dropping the entry.
    final = final.withColumn(
        "cnt",
        F.when(
            F.col("src").isNull() | F.col("dst").isNull(),
            F.raise_error(F.lit("corrupt markov state entry")),
        ).otherwise(F.col("cnt")),
    )
    counts = final.groupBy("src", "dst").agg(
        F.sum("cnt").cast("bigint").alias("n")
    )
    tot_w = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n",
        F.round(F.col("n") * F.lit(1.0) / F.sum("n").over(tot_w), 6).alias("p"),
    ).orderBy("src", "dst")


@register(
    "stream_ohlc_bars",
    oracle="""
    WITH pts AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             ts, event_id,
             CAST(floor(value * 1000000) AS BIGINT) AS v_e6
      FROM events
      WHERE value IS NOT NULL),
    seq AS (
      SELECT day, v_e6,
             ROW_NUMBER() OVER (PARTITION BY day
                                ORDER BY ts, event_id) AS rn_open,
             ROW_NUMBER() OVER (PARTITION BY day
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM pts)
    SELECT day,
           CAST(MAX(CASE WHEN rn_open = 1 THEN v_e6 END) AS BIGINT) AS open_e6,
           CAST(MAX(v_e6) AS BIGINT) AS high_e6,
           CAST(MIN(v_e6) AS BIGINT) AS low_e6,
           CAST(MAX(CASE WHEN rn_close = 1 THEN v_e6 END) AS BIGINT) AS close_e6,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v_e6) AS BIGINT) AS sum_e6
    FROM seq
    GROUP BY day
    """,
)
def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the OHLC downsample (timeseries_ohlc_bars
    lifts the same aggregation over orders): daily bars over the event
    value stream maintained in keyed state — the canonical
    ORDER-SENSITIVE streaming aggregate. High/low/count/sum merge
    commutatively (any twin handles those), but open and close do NOT:
    the state carries the (ts, event_id) witness of the current
    open/close and only replaces it when a strictly earlier/later
    observation arrives, which makes the fold correct regardless of
    how rows split across micro-batches. State is one fixed-width row
    per bar — bounded by the calendar, not the event volume.

    Scale shape: keyed state per bar; each micro-batch folds
    map-side into per-bar partials before the state update, so a 100
    TB replay is bounded by bars x batch count. Values in exact
    floor(v*1e6) integers (the dot_scaled discipline) — no float-order
    hazard between the stream fold and the batch oracle."""
    ev = _events_stream_batched(spark, sf_dir, single_trigger=True)
    updates = _run_to_table(_ohlc_updates(ev), spark, "update")
    return _ohlc_serve(updates)


def _ohlc_updates(ev: DataFrame) -> DataFrame:
    """Stateful half of stream_ohlc_bars (factored for the
    checkpoint-restart harness): the order-sensitive fold with the
    (ts, event_id) open/close witnesses carried in state."""
    import pandas as pd

    # Explicit shared null semantics with the batch oracle (WHERE value
    # IS NOT NULL there): drop null samples BEFORE the stateful fold —
    # int(v) in the fold would raise on NaN where SQL aggregates would
    # silently skip, so both twins filter identically instead.
    coded = ev.filter(F.col("value").isNotNull()).select(
        F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias("day"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("bigint").alias("v_e6"),
    )

    def update(key, pdfs, state):
        if state.exists:
            (n, o_us, o_id, o_v, c_us, c_id, c_v, hi, lo, tot) = state.get
        else:
            n, o_us, o_id, o_v, c_us, c_id, c_v, hi, lo, tot = (
                0, None, None, None, None, None, None, None, None, 0,
            )
        for pdf in pdfs:
            for ts_us, eid, v in zip(pdf["ts_us"], pdf["event_id"], pdf["v_e6"]):
                ts_us, eid, v = int(ts_us), int(eid), int(v)
                if o_us is None or (ts_us, eid) < (o_us, o_id):
                    o_us, o_id, o_v = ts_us, eid, v
                if c_us is None or (ts_us, eid) > (c_us, c_id):
                    c_us, c_id, c_v = ts_us, eid, v
                hi = v if hi is None else max(hi, v)
                lo = v if lo is None else min(lo, v)
                tot += v
                n += 1
        state.update((n, o_us, o_id, o_v, c_us, c_id, c_v, hi, lo, tot))
        yield pd.DataFrame(
            {
                "day": [key[0]],
                "open_e6": [o_v],
                "high_e6": [hi],
                "low_e6": [lo],
                "close_e6": [c_v],
                "n_events": [n],
                "sum_e6": [tot],
            }
        )

    return coded.groupBy("day").applyInPandasWithState(
        update,
        outputStructType=(
            "day bigint, open_e6 bigint, high_e6 bigint, low_e6 bigint, "
            "close_e6 bigint, n_events bigint, sum_e6 bigint"
        ),
        stateStructType=(
            "n bigint, o_us bigint, o_id bigint, o_v bigint, "
            "c_us bigint, c_id bigint, c_v bigint, "
            "hi bigint, lo bigint, tot bigint"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def _ohlc_serve(updates: DataFrame) -> DataFrame:
    """Serving side of stream_ohlc_bars: final state per bar."""
    w = Window.partitionBy("day").orderBy(F.desc("n_events"))
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "day",
            "open_e6",
            "high_e6",
            "low_e6",
            "close_e6",
            "n_events",
            "sum_e6",
        )
    )
