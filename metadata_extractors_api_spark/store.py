"""Per-application memo store and per-process scratch directories.

Several queries build expensive intermediates once and reuse them on
every later call in the same Spark application: index builds, shingle
relations, stream drains, registered data sources, registry frames.
``memo`` is the one place that decides how such values are keyed;
``scratch_dir`` is the one place that decides where their files live
and when they are removed.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

_ENTRIES: dict[tuple[str, Hashable], object] = {}


def memo(spark: SparkSession, key: Hashable, build: Callable[[], T]) -> T:
    """``build()``'s value for ``key``, built once per Spark application.

    The application id, not ``id(spark)``, keys the store: CPython
    reuses object ids after garbage collection, so a later session in
    the same process could be served a dead session's values. The id is
    unique per SparkContext and shared by its sibling sessions, which is
    the right granularity: the cached values (checkpointed frames,
    registered data sources, files read through the JVM) live with the
    JVM, not with the Python wrapper. A build that returns ``None``
    (data-source registration) is still recorded, so it runs once too.
    Not synchronised: two threads that miss the same key together both
    build, and the later value is kept.
    """
    k = (spark.sparkContext.applicationId, key)
    if k not in _ENTRIES:
        _ENTRIES[k] = build()
    return _ENTRIES[k]  # type: ignore[return-value]


@functools.cache
def _root() -> str:
    root = tempfile.mkdtemp(prefix="mdx_")
    atexit.register(_remove_root, root, os.getpid())
    return root


def _remove_root(root: str, owner: int) -> None:
    # a forked child inherits the handler; only the creating process
    # owns the tree
    if os.getpid() == owner:
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A new empty directory under this process's ``mdx_`` temp root.

    The root is created on first use and removed when the process
    exits, so callers never clean up after themselves."""
    return tempfile.mkdtemp(prefix=prefix, dir=_root())
