"""Checkpoint-restart coverage for the stateful streaming twins
(VERDICT r6 'Next round' #6): stream_pattern_funnel accumulates
per-user code strings and stream_ewma_tws keeps an EWMA observation
window in keyed state — these tests prove that state SURVIVES a query
restart mid-batch-sequence, i.e. a drain that stops after two of the
three deliveries and a NEW query started from the same checkpoint
produce exactly the unbroken run's final answer.

Harness design: chunks are copied (mtimes preserved) into a private
staging dir — two chunks before run 1, the third between runs — so
run 2 can only be correct if (a) the file-source offsets in the
checkpoint skip the already-committed files and (b) the state store
restores the accumulated per-key state. Each micro-batch's update
rows append to a parquet sink via foreachBatch (durable across the
restart, unlike the memory sink) tagged with (run, batch_id), so the
test can also assert run 2 processed EXACTLY one new micro-batch —
ruling out the vacuous pass where a from-scratch reprocessing of all
three files reaches the same final state."""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

import metadata_extractors_api_spark as mdx
from metadata_extractors_api_spark.session import conf_scope
from metadata_extractors_api_spark.streaming.windows import (
    _events_split_dir,
    _events_stream_from_dir,
    _pattern_funnel_serve,
    _pattern_funnel_updates,
    drain,
)
from metadata_extractors_api_spark.streaming.tws import (
    TWS_STATE_CONF,
    _ewma_tws_serve,
    _ewma_tws_updates,
)


def _restart_drain(spark, sf_dir, build_updates, base):
    """Run build_updates(ev_stream) through a two-run restart drain
    staged under the empty directory ``base``.

    Returns (updates_df, n_batches_run1, n_batches_run2)."""
    src = _events_split_dir(spark, sf_dir, 3)
    chunks = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )
    assert len(chunks) == 3
    staged = os.path.join(base, "in")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(staged)

    def stage(name):
        # copy2 preserves the pinned mtimes the file source orders by
        shutil.copy2(os.path.join(src, name), os.path.join(staged, name))

    def drain_run(run_id):
        def sink_batch(df, batch_id):
            df.withColumn("run", F.lit(run_id)).withColumn(
                "batch_id", F.lit(batch_id)
            ).write.mode("append").parquet(sink)

        out = build_updates(_events_stream_from_dir(spark, staged))
        drain(
            spark,
            out.writeStream.foreachBatch(sink_batch).outputMode("update"),
            partitions="16",
            checkpoint=ckpt,
        )

    stage(chunks[0])
    stage(chunks[1])
    drain_run(1)  # two micro-batches, then the query STOPS
    stage(chunks[2])
    drain_run(2)  # NEW query, same checkpoint: must resume, not replay

    updates = spark.read.parquet(sink)
    per_run = {
        r["run"]: r["n"]
        for r in updates.groupBy("run")
        .agg(F.countDistinct("batch_id").alias("n"))
        .collect()
    }
    # `updates` reads the sink lazily: callers collect from it while
    # `base` still exists.
    return updates, per_run.get(1, 0), per_run.get(2, 0)


def test_pattern_funnel_state_survives_restart(spark, sf_dir, tmp_path):
    updates, b1, b2 = _restart_drain(
        spark, sf_dir, _pattern_funnel_updates, str(tmp_path)
    )
    # run 1 processed the two staged chunks; run 2 ONLY the new one
    assert b1 == 2, f"run 1 ran {b1} micro-batches, expected 2"
    assert b2 == 1, f"run 2 ran {b2} micro-batches, expected 1 (replay?)"
    got = (
        _pattern_funnel_serve(updates.drop("run", "batch_id"))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    want = (
        mdx.QUERIES["stream_pattern_funnel"](spark, sf_dir)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert got.equals(want)
    # sharp state-restore check: every user emitted in run 2 must carry
    # counts accumulated from runs 1+2, not batch-3-only counts — pick
    # the users seen in BOTH runs and require their final n_events to
    # exceed their run-2-visible increment lower bound (i.e. strictly
    # greater than what a fresh, state-less run 2 could have seen).
    seen_run1 = (
        updates.filter(F.col("run") == 1)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n1"))
    )
    run2 = updates.filter(F.col("run") == 2).select("user_id", "n_events")
    joined = run2.join(seen_run1, "user_id").collect()
    assert joined, "no user spans the restart boundary"
    for r in joined:
        assert r["n_events"] > r["n1"], (
            f"user {r['user_id']} run-2 count {r['n_events']} did not "
            f"build on run-1 state {r['n1']}"
        )


def test_ewma_tws_state_survives_restart(spark, sf_dir, tmp_path):
    with conf_scope(spark, TWS_STATE_CONF):
        updates, b1, b2 = _restart_drain(
            spark, sf_dir, _ewma_tws_updates, str(tmp_path)
        )
    assert b1 == 2, f"run 1 ran {b1} micro-batches, expected 2"
    assert b2 == 1, f"run 2 ran {b2} micro-batches, expected 1 (replay?)"
    got = (
        _ewma_tws_serve(updates.drop("run", "batch_id"))
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    want = (
        mdx.QUERIES["stream_ewma_tws"](spark, sf_dir)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert got.equals(want)
    # every event type appears in all three time chunks at any SF, so
    # run 2 must emit all keys with n_obs built on restored state
    n_obs_run2 = {
        r["event_type"]: r["n_obs"]
        for r in updates.filter(F.col("run") == 2)
        .groupBy("event_type")
        .agg(F.max("n_obs").alias("n_obs"))
        .collect()
    }
    n_obs_run1 = {
        r["event_type"]: r["n_obs"]
        for r in updates.filter(F.col("run") == 1)
        .groupBy("event_type")
        .agg(F.max("n_obs").alias("n_obs"))
        .collect()
    }
    assert n_obs_run2, "run 2 emitted nothing"
    for et, n2 in n_obs_run2.items():
        assert n2 > n_obs_run1.get(et, 0), (
            f"{et}: run-2 n_obs {n2} did not build on run-1 "
            f"{n_obs_run1.get(et)}"
        )


def test_markov_transition_state_survives_restart(spark, sf_dir, tmp_path):
    """The markov twin's distinguishing property: the LAST-EVENT carry
    in state links transitions across the restart boundary. Beyond the
    standard resume assertions, this checks the total transition count
    equals total_events - n_users (every user contributes exactly
    len(events)-1 transitions) — impossible if the boundary transition
    were dropped by a state-less run 2."""
    from metadata_extractors_api_spark.streaming.windows import (
        _markov_serve,
        _markov_updates,
    )

    updates, b1, b2 = _restart_drain(
        spark, sf_dir, _markov_updates, str(tmp_path)
    )
    assert b1 == 2, f"run 1 ran {b1} micro-batches, expected 2"
    assert b2 == 1, f"run 2 ran {b2} micro-batches, expected 1 (replay?)"
    got = (
        _markov_serve(updates.drop("run", "batch_id"))
        .toPandas()
        .sort_values(["src", "dst"])
        .reset_index(drop=True)
    )
    want = (
        mdx.QUERIES["stream_markov_transition"](spark, sf_dir)
        .toPandas()
        .sort_values(["src", "dst"])
        .reset_index(drop=True)
    )
    assert got.equals(want)
    # conservation: sum(n) == total events - distinct users (per-user
    # chains of length L contribute L-1 transitions; a dropped boundary
    # transition breaks this identity)
    ev = mdx.catalog.load(spark, sf_dir, "events")
    total = ev.count()
    users = ev.select("user_id").distinct().count()
    assert int(got["n"].sum()) == total - users


def test_ohlc_state_survives_restart_out_of_order_split(
    spark, sf_dir, tmp_path
):
    """The OHLC twin's distinguishing property, tested on the HARDEST
    split: unlike the funnel/markov twins (which need time-contiguous
    chunks), the OHLC fold carries (ts, event_id) open/close WITNESSES
    in state, so it is correct under ARBITRARY row-to-batch assignment.
    Events are split by event_id parity — every bar spans the restart
    boundary, run 2 sees a time-interleaved half — and the resumed
    result must still equal the batch answer exactly, with every bar's
    run-2 state building on run 1's."""
    import pandas as pd

    from metadata_extractors_api_spark.catalog import load
    from metadata_extractors_api_spark.streaming.windows import (
        _events_stream_from_dir,
        _ohlc_serve,
        _ohlc_updates,
    )

    base = str(tmp_path)
    staged = os.path.join(base, "in")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(staged)
    ev = load(spark, sf_dir, "events")
    for i, pred in enumerate(
        [F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1]
    ):
        part_dir = os.path.join(base, f"_p{i}")
        ev.filter(pred).coalesce(1).write.parquet(part_dir)
        part = next(
            f for f in os.listdir(part_dir) if f.endswith(".parquet")
        )
        dst = os.path.join(base, f"ev_{i:03d}.parquet")
        os.rename(os.path.join(part_dir, part), dst)
        os.utime(dst, (1_700_000_000 + i * 10,) * 2)

    def drain_run(run_id):
        def sink_batch(df, batch_id):
            df.withColumn("run", F.lit(run_id)).withColumn(
                "batch_id", F.lit(batch_id)
            ).write.mode("append").parquet(sink)

        out = _ohlc_updates(_events_stream_from_dir(spark, staged))
        drain(
            spark,
            out.writeStream.foreachBatch(sink_batch).outputMode("update"),
            partitions=None,
            checkpoint=ckpt,
        )

    shutil.copy2(os.path.join(base, "ev_000.parquet"),
                 os.path.join(staged, "ev_000.parquet"))
    drain_run(1)
    shutil.copy2(os.path.join(base, "ev_001.parquet"),
                 os.path.join(staged, "ev_001.parquet"))
    drain_run(2)

    updates = spark.read.parquet(sink)
    per_run = {
        r["run"]: r["n"]
        for r in updates.groupBy("run")
        .agg(F.countDistinct("batch_id").alias("n"))
        .collect()
    }
    assert per_run.get(1) == 1 and per_run.get(2) == 1
    got = (
        _ohlc_serve(updates.drop("run", "batch_id"))
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    want = (
        mdx.QUERIES["stream_ohlc_bars"](spark, sf_dir)
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    assert got.equals(want)
    # EVERY bar spans the boundary under the parity split: run-2 state
    # must build on run 1 (n grows), and the final open/close must be
    # the global witnesses, not run-2-local ones
    r1 = {
        r["day"]: r["n_events"]
        for r in updates.filter(F.col("run") == 1).collect()
    }
    r2 = {
        r["day"]: r["n_events"]
        for r in updates.filter(F.col("run") == 2).collect()
    }
    assert set(r1) == set(r2) and r1
    for day, n2 in r2.items():
        assert n2 > r1[day], f"bar {day} did not build on run-1 state"
