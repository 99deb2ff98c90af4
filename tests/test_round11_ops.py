"""Focused tests for the round-11 optimizations: each one guards the
MECHANISM an optimization relies on (not just the output, which the
oracle sweep already certifies) so a silent no-op regression — e.g. a
Spark upgrade dropping checkpoint partitioning again — fails loudly
here instead of showing up only as a bench-time regression."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_stream_single_trigger_batch_invariance(spark, sf_dir, tmp_path):
    """The seven benched stream headliners drain their split source in
    ONE availableNow micro-batch (round-11 drain policy). Assert (a)
    the trigger policy really yields 1 vs n_files batches, and (b) a
    representative order-sensitive stateful fold (markov, the
    last-event carry) produces IDENTICAL output under both policies —
    the batch-count invariance the switch relies on."""
    from metadata_extractors_api_spark.streaming.windows import (
        _events_stream_batched,
        _markov_serve,
        _markov_updates,
        _run_to_table,
    )

    def drain_batches(single):
        ev = _events_stream_batched(
            spark, sf_dir, n_files=3, single_trigger=single
        )
        seen = []
        q = (
            ev.writeStream.foreachBatch(
                lambda df, bid: seen.append(int(bid))
            )
            .option("checkpointLocation", str(tmp_path / f"ckpt_{single}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return len(seen)

    assert drain_batches(False) == 3
    assert drain_batches(True) == 1

    def markov_rows(single):
        ev = _events_stream_batched(spark, sf_dir, single_trigger=single)
        out = _markov_serve(
            _run_to_table(_markov_updates(ev), spark, "update")
        )
        return sorted(tuple(r) for r in out.collect())

    assert markov_rows(True) == markov_rows(False)
