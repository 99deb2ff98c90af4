"""Streaming checks (SURVEY.md §5.2 item 4): rows-only plus batch-twin
cross-validation where an equivalent batch plan exists."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

import metadata_extractors_api_spark as mdx


def test_stream_tumbling_matches_batch_twin(spark, sf_dir):
    stream = mdx.QUERIES["stream_tumbling"](spark, sf_dir).toPandas()
    batch = mdx.QUERIES["win_time_tumbling_batch"](spark, sf_dir).toPandas()
    key = ["window_start", "event_type"]
    s = stream.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert s[["n", "sum_value"]].equals(b[["n", "sum_value"]])
    assert len(s) == len(b)


def test_stream_sliding_double_counts(spark, sf_dir):
    df = mdx.QUERIES["stream_sliding"](spark, sf_dir).toPandas()
    ev = mdx.QUERIES["scan_json_props"](spark, sf_dir)
    assert df["n"].sum() == 2 * ev.count()


def test_stream_session_bounds(spark, sf_dir):
    df = mdx.QUERIES["stream_session"](spark, sf_dir).toPandas()
    assert (df["session_end"] > df["session_start"]).all()
    assert df["n_events"].sum() > 0


def test_stream_late_emits_closed_windows_only(spark, sf_dir):
    late = mdx.QUERIES["stream_late"](spark, sf_dir).toPandas()
    batch = mdx.QUERIES["win_time_tumbling_batch"](spark, sf_dir).toPandas()
    n_batch_windows = batch["window_start"].nunique()
    assert 0 < len(late) <= n_batch_windows


def test_stream_join_matches_batch_twin(spark, sf_dir):
    pairs = mdx.QUERIES["stream_join"](spark, sf_dir).count()
    batch = mdx.QUERIES["join_range_interval"](spark, sf_dir).toPandas()
    assert pairs == batch["n_recent_clicks"].sum()


def test_stream_stateful_counts_everything(spark, sf_dir):
    df = mdx.QUERIES["stream_stateful"](spark, sf_dir).toPandas()
    ev = mdx.QUERIES["scan_json_props"](spark, sf_dir)
    assert df["n_events"].sum() == ev.count()
    assert df["user_id"].is_unique


def test_stream_dedup_keeps_first_per_key(spark, sf_dir):
    df = mdx.QUERIES["stream_dedup"](spark, sf_dir).toPandas()
    assert df.groupby(["user_id", "event_type"]).size().max() == 1


def test_stream_profile_tws_composite_state(spark, sf_dir):
    """The composite-state profile must agree with batch facts: total
    events conserved, distinct-type counts within the global type
    vocabulary, one row per user. Runs the TWS path where its protobuf
    dependency exists, the applyInPandasWithState fallback otherwise --
    identical semantics by construction."""
    from metadata_extractors_api_spark.catalog import load

    df = mdx.QUERIES["stream_profile_tws"](spark, sf_dir).toPandas()
    ev = load(spark, sf_dir, "events")
    assert df["n_events"].sum() == ev.count()
    assert df["user_id"].is_unique
    n_types_global = ev.select("event_type").distinct().count()
    assert df["n_types"].between(1, n_types_global).all()


def test_stream_custom_source_exactly_once(spark, sf_dir):
    """The offset-tracked feed must deliver every fixture row exactly
    once across its micro-batches (append sink, no dups, no gaps)."""
    df = mdx.QUERIES["stream_custom_source"](spark, sf_dir).toPandas()
    assert sorted(df["file_id"].tolist()) == [1, 2, 3, 4, 5, 6]


def test_incremental_restart_no_dups_no_gaps(spark, sf_dir):
    from metadata_extractors_api_spark.catalog import load

    df = mdx.QUERIES["stream_incremental_restart"](spark, sf_dir).toPandas()
    assert df["doc_id"].is_unique
    assert len(df) == load(spark, sf_dir, "documents").count()


def test_stream_dedup_incremental_equals_batch_twin(spark, sf_dir):
    # Final accumulated stream state must equal the batch operator
    # row-for-row (both are deterministic relations).
    s = (
        mdx.QUERIES["stream_dedup_incremental"](spark, sf_dir)
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    b = (
        mdx.QUERIES["dedup_incremental_minhash"](spark, sf_dir)
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    assert s.equals(b[s.columns])


def test_stream_extract_run_equals_batch_twin(spark, sf_dir):
    key = ["file_id", "method", "channel", "point"]
    s = (
        mdx.QUERIES["stream_extract_run"](spark, sf_dir)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    b = (
        mdx.QUERIES["extract_run"](spark, sf_dir)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert s.equals(b[s.columns])


def test_stream_detect_filetype_equals_batch_twin(spark, sf_dir):
    s = (
        mdx.QUERIES["stream_detect_filetype"](spark, sf_dir)
        .toPandas()
        .sort_values("fname")
        .reset_index(drop=True)
    )
    b = (
        mdx.QUERIES["extract_detect_filetype"](spark, sf_dir)
        .toPandas()
        .sort_values("fname")
        .reset_index(drop=True)
    )
    assert s.equals(b[s.columns])


def test_state_reader_matches_live_aggregation(spark, sf_dir):
    # the statestore read must agree with a fresh batch aggregation
    from metadata_extractors_api_spark.catalog import load
    from pyspark.sql import functions as F

    got = {
        r["event_type"]: r["n"]
        for r in mdx.QUERIES["stream_state_reader"](spark, sf_dir).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("n"))
        .collect()
    }
    assert got == want


def test_ewma_tws_state_schema_and_multibatch(spark, sf_dir, tmp_path):
    """Round-4 verdict item 8's 'done' gate: the typed-state EWMA twin
    must (a) hash-equal the batch EWMA (covered by the oracle sweep;
    re-asserted here against stream_ewma directly), (b) leave a
    checkpoint whose state-metadata names the stateful operator across
    MULTIPLE micro-batches (maxBatchId >= 2 proves per-key state was
    restored at least twice -- the property the single-file source
    never exercised), and (c) expose the declared state schema through
    the statestore source. Drains through the query's own helpers so
    the checkpoint path is in hand."""
    from metadata_extractors_api_spark.session import conf_scope
    from metadata_extractors_api_spark.streaming.tws import (
        HAS_TWS_DEPS,
        TWS_STATE_CONF,
        _ewma_tws_serve,
        _ewma_tws_updates,
    )
    from metadata_extractors_api_spark.streaming.windows import (
        _events_stream_batched,
        drain,
    )

    ev = _events_stream_batched(spark, sf_dir)
    ckpt = str(tmp_path / "ckpt")
    with conf_scope(spark, TWS_STATE_CONF):
        drain(
            spark,
            _ewma_tws_updates(ev)
            .writeStream.format("memory")
            .queryName("ewma_tws_updates")
            .outputMode("update"),
            checkpoint=ckpt,
        )
    updates = spark.table("ewma_tws_updates")
    a = {tuple(r) for r in _ewma_tws_serve(updates).collect()}
    b = {
        tuple(r) for r in mdx.QUERIES["stream_ewma"](spark, sf_dir).collect()
    }
    assert a == b  # typed-state twin == packed-struct twin, final state

    md = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(md) == 1
    row = md[0]
    expected_op = (
        "transformWithStateInPandasExec"
        if HAS_TWS_DEPS
        else "applyInPandasWithState"
    )
    assert expected_op in row["operatorName"], row["operatorName"]
    assert row["minBatchId"] == 0
    assert row["maxBatchId"] >= 2  # three time-ordered deliveries drained

    state = spark.read.format("statestore").load(ckpt)
    key_fields = set(state.schema["key"].dataType.fieldNames())
    val_fields = set(state.schema["value"].dataType.fieldNames())
    assert key_fields == {"event_type"}
    if HAS_TWS_DEPS:  # pragma: no cover - cluster images
        pass  # per-variable stores; default var asserted via options
    else:
        # applyInPandasWithState nests the declared struct one level
        # down under value.groupState
        assert val_fields == {"groupState"}, val_fields
        gs = set(
            state.schema["value"].dataType["groupState"].dataType.fieldNames()
        )
        assert {"bhs", "cnts", "n_obs", "n_emit"} <= gs, gs


def test_drain_restores_session_confs(spark, sf_dir):
    """``drain`` scopes the stream partition count and nanosAsLong to
    the query: the batch sees them, and the session reads what it read
    before afterwards, also when the query fails."""
    from pyspark.errors import StreamingQueryException

    from metadata_extractors_api_spark.streaming.windows import (
        STREAM_PARTITIONS,
        _events_stream,
        _run_to_table,
        drain,
    )

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.legacy.parquet.nanosAsLong",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    assert before["spark.sql.shuffle.partitions"] != STREAM_PARTITIONS
    ev = _events_stream(spark, sf_dir)

    _run_to_table(ev.groupBy("event_type").count(), spark, "complete")
    assert {k: spark.conf.get(k, None) for k in keys} == before

    seen = {}

    def fail(batch_df, _batch_id):
        seen.update({k: batch_df.sparkSession.conf.get(k, None) for k in keys})
        raise RuntimeError("sink failed")

    with pytest.raises(StreamingQueryException):
        drain(spark, ev.writeStream.foreachBatch(fail))
    assert seen == {
        "spark.sql.shuffle.partitions": STREAM_PARTITIONS,
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    assert {k: spark.conf.get(k, None) for k in keys} == before


def test_stream_custom_source_raises_instead_of_partial_table():
    """The feed poll re-raises a failed query's exception, and a feed
    that stalls past the deadline raises TimeoutError naming the rows
    seen, instead of returning whatever the sink holds."""
    from metadata_extractors_api_spark.sources.stream_source import _await_feed

    err = RuntimeError("feed failed")
    failed = SimpleNamespace(exception=lambda: err)
    with pytest.raises(RuntimeError, match="feed failed"):
        _await_feed(failed, lambda: 3, 6, timeout_s=60)

    stalled = SimpleNamespace(exception=lambda: None)
    with pytest.raises(TimeoutError, match="3 of 6"):
        _await_feed(stalled, lambda: 3, 6, timeout_s=0)

    _await_feed(stalled, lambda: 6, 6, timeout_s=0)  # complete feed returns
