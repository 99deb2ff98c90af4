"""SparkSession factory tuned for the driver's scale factors.

At 100 TB the same plan shapes hold; only the knobs move (shuffle
partitions sized to ~128-256 MB per task, broadcast threshold to executor
memory). AQE re-plans at runtime (partition coalescing, skew-join
splitting, SMJ->BHJ demotion), so we rely on it rather than hand-tuning
per query.
"""

from __future__ import annotations

import contextlib
import functools
import os
from collections.abc import Iterator, Mapping

from pyspark.sql import SparkSession

from metadata_extractors_api_spark.store import scratch_dir


@functools.cache
def _warehouse() -> str:
    # one warehouse per process: a dir shared by every process on the
    # host lets one process's stale-table cleanup delete another's live
    # table (operators/scale.py join_bucketed)
    return scratch_dir("warehouse_")


def get_spark(
    app_name: str = "metadata-extractors-api-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Defaults are sized for local[N] at sf<=0.1; on a real cluster the same
    config names are what you would tune (see module docstring).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # managed tables (bucketed joins) land outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE") or _warehouse(),
        )
        .config("spark.ui.enabled", "false")
    )
    return b.getOrCreate()


@contextlib.contextmanager
def conf_scope(
    spark: SparkSession, confs: Mapping[str, str | None]
) -> Iterator[None]:
    """Set the session confs in ``confs`` for the body of a ``with``
    block, then restore each key's previous value, or unset it if it
    had none. A ``None`` value leaves its key untouched. Restoration
    also runs when the body raises."""
    prev: dict[str, str | None] = {}
    try:
        for key, value in confs.items():
            if value is not None:
                prev[key] = spark.conf.get(key, None)
                spark.conf.set(key, value)
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
