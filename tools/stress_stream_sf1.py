"""Decade-scale STATE evidence for the streaming twins (BENCH.md
'Streaming decade stress' table; VERDICT r7 'Next round' #2).

The twins' 100 TB claim is 'streaming state bounded at sketch/key
size'. This tool proves it at one measured decade: for each stateful
twin it drains the EXACT registered update pipeline (_hll_updates /
_cms_updates / _scd2_updates / _pattern_funnel_updates over
_events_stream_batched — the same builders the registered queries
call) to a noop sink under an instrumented checkpoint, at sf0.1 and
at the tiled sf1 (tools/stress_sf1.build_sf1), and records:

  * per-micro-batch wall time (query progress triggerExecution),
  * final state-store ROWS via the ``statestore`` reader,
  * on-disk checkpoint state BYTES (du over <ckpt>/state).

It then ASSERTS the bounded-state contracts at sf1:
  * sketch twins (hll, cms): state rows are IDENTICAL at both scales
    and bounded by the sketch geometry (HLL_M resp. CMS_D*CMS_W) —
    10x the events, zero state growth;
  * keyed twins (scd2, funnel): state rows == distinct user_id at
    each scale, i.e. exactly 10x across the decade (keys, not events).

Usage:
    PYTHONPATH=. python tools/stress_stream_sf1.py [--dest /tmp/sf1]

Prints one JSON line with per-twin {sf0.1, sf1} x {batches_s,
state_rows, state_bytes, wall_s}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def drain_measured(spark, updates, mode: str) -> dict:
    """Drain an update stream (availableNow) under a fresh checkpoint;
    return per-batch durations + final state rows/bytes."""
    from metadata_extractors_api_spark.store import scratch_dir
    from metadata_extractors_api_spark.streaming.windows import drain

    ckpt = scratch_dir("sf1_ckpt_")
    t0 = time.perf_counter()
    q = drain(
        spark,
        updates.writeStream.format("noop").outputMode(mode),
        partitions="16",
        checkpoint=ckpt,
    )
    wall = time.perf_counter() - t0
    progress = [json.loads(p.json) for p in q.recentProgress]
    batches = [
        {
            "batch_id": p["batchId"],
            "input_rows": p.get("numInputRows", 0),
            "trigger_s": round(
                p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0, 2
            ),
            "state_rows_after": (
                p["stateOperators"][0]["numRowsTotal"]
                if p.get("stateOperators")
                else None
            ),
        }
        for p in progress
        if p.get("numInputRows", 0) > 0 or p.get("stateOperators")
    ]
    state_rows = spark.read.format("statestore").load(ckpt).count()
    state_bytes = _du(os.path.join(ckpt, "state"))
    return {
        "wall_s": round(wall, 2),
        "batches": batches,
        "state_rows": state_rows,
        "state_bytes": state_bytes,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dest", default="/tmp/sf1")
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    from pyspark.sql import functions as F

    from metadata_extractors_api_spark.catalog import load
    from metadata_extractors_api_spark.operators.stats import CMS_D, CMS_W, HLL_M
    from metadata_extractors_api_spark.session import get_spark
    from metadata_extractors_api_spark.streaming.windows import (
        _cms_updates,
        _events_stream_batched,
        _hll_updates,
        _markov_updates,
        _ohlc_updates,
        _pattern_funnel_updates,
        _scd2_updates,
    )
    from tools.stress_sf1 import build_sf1

    spark = get_spark(app_name="mdx-sf1-stream-stress")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.dest, exist_ok=True)
    build_sf1(spark, args.src, args.dest)

    twins = {
        "stream_hll_distinct": (
            lambda ev: _hll_updates(ev.select("user_id")),
            "update",
        ),
        "stream_cms_heavy_hitters": (
            lambda ev: _cms_updates(
                ev.select(F.col("user_id").cast("string").alias("key"))
            ),
            "update",
        ),
        "stream_scd2_build": (_scd2_updates, "append"),
        "stream_pattern_funnel": (_pattern_funnel_updates, "update"),
        # round-9 twins: markov state = alphabet^2 per USER; ohlc state
        # = one fixed row per CALENDAR BAR (grows with neither)
        "stream_markov_transition": (_markov_updates, "update"),
        "stream_ohlc_bars": (_ohlc_updates, "update"),
    }

    out = {}
    users = {}
    for sf in (args.src, args.dest):
        users[sf] = (
            load(spark, sf, "events")
            .agg(F.countDistinct("user_id").alias("u"))
            .first()["u"]
        )
    for name, (build, mode) in twins.items():
        out[name] = {}
        for sf, label in ((args.src, "sf0.1"), (args.dest, "sf1")):
            m = drain_measured(spark, build(_events_stream_batched(spark, sf)), mode)
            out[name][label] = m
            print(name, label, m, file=sys.stderr, flush=True)

    # --- bounded-state assertions at the decade ------------------------
    hll = out["stream_hll_distinct"]
    assert hll["sf1"]["state_rows"] <= HLL_M, hll
    assert hll["sf1"]["state_rows"] == hll["sf0.1"]["state_rows"], (
        "HLL state grew across the decade",
        hll,
    )
    cms = out["stream_cms_heavy_hitters"]
    # CMS state is CAPPED at the sketch geometry: sf0.1's 1.5k users
    # leave some cells empty; sf1 saturates the cap exactly — 10x the
    # input may only ever fill up to CMS_D*CMS_W cells, never past it.
    assert cms["sf0.1"]["state_rows"] <= CMS_D * CMS_W, cms
    assert cms["sf1"]["state_rows"] <= CMS_D * CMS_W, cms
    for keyed in ("stream_scd2_build", "stream_pattern_funnel"):
        k = out[keyed]
        assert k["sf0.1"]["state_rows"] == users[args.src], (keyed, k)
        assert k["sf1"]["state_rows"] == users[args.dest], (keyed, k)
        assert k["sf1"]["state_rows"] == 10 * k["sf0.1"]["state_rows"], (
            keyed,
            "keyed state must scale with KEYS (10x tiled users), not events",
            k,
        )
    mk = out["stream_markov_transition"]
    assert mk["sf0.1"]["state_rows"] == users[args.src], mk
    assert mk["sf1"]["state_rows"] == 10 * mk["sf0.1"]["state_rows"], (
        "markov keyed state must scale with USERS (10x), not events",
        mk,
    )
    ohlc = out["stream_ohlc_bars"]
    # the tiled sf1 keeps the same 30-day window: CALENDAR-keyed state
    # must be IDENTICAL across the decade — 10x events, zero state growth
    assert ohlc["sf1"]["state_rows"] == ohlc["sf0.1"]["state_rows"], ohlc

    # --- funnel DENSITY decade: 10x events over the SAME keys ----------
    # The key-tiled decade above cannot expose per-key payload growth
    # (10x keys, same events-per-key). This tiling multiplies DENSITY:
    # every event duplicated 10x (distinct event_id, same user_id/ts),
    # so events-per-user grows 10x while the key set is unchanged — the
    # bot-user shape. The automaton state must stay CONSTANT per key:
    # same state rows, flat state bytes.
    dens = args.dest.rstrip("/") + "_density"
    os.makedirs(dens, exist_ok=True)
    dpath = os.path.join(dens, "events.parquet")
    if not os.path.exists(dpath):
        ev = spark.read.parquet(os.path.join(args.src, "events.parquet"))
        parts = [
            ev.withColumn(
                "event_id", F.col("event_id") + F.lit(i * 100_000_000)
            )
            for i in range(10)
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.repartition(32).write.mode("overwrite").parquet(dpath)
    m_base = out["stream_pattern_funnel"]["sf0.1"]
    m_dens = drain_measured(
        spark,
        _pattern_funnel_updates(_events_stream_batched(spark, dens)),
        "update",
    )
    out["stream_pattern_funnel"]["sf0.1_density10x"] = m_dens
    print(
        "stream_pattern_funnel density10x", m_dens, file=sys.stderr, flush=True
    )
    assert m_dens["state_rows"] == m_base["state_rows"], (
        "funnel state rows must track KEYS, which the density decade holds fixed",
        m_base,
        m_dens,
    )
    # constant bytes-per-key: allow only checkpoint-framing noise
    assert m_dens["state_bytes"] <= int(m_base["state_bytes"] * 1.25) + 8192, (
        "funnel per-key state grew with events-per-user",
        m_base,
        m_dens,
    )

    out["_users"] = {"sf0.1": users[args.src], "sf1": users[args.dest]}
    out["_asserts"] = (
        "all bounded-state contracts held at sf1 (incl. funnel density decade)"
    )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
