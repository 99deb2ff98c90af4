"""Raw-file ingestion via Spark's ``binaryFile`` source: the
distributed analogue of the reference handing a local ``input_path``
to an extractor (reference ``marda_extractors_api/__init__.py:45-57``,
where ``extract(input_path, input_type)`` opens one instrument file on
one machine).

At 100 TB the instrument files ARE the dataset: a corpus of raw
images/audio/spectra lands as millions of opaque files, and the scan
that turns them into (path, length, bytes) rows must itself be
distributed. ``spark.read.format("binaryFile")`` is that scan -- the
JVM reads each file into one row, ``pathGlobFilter`` prunes by
extension at listing time (never opening non-matching files), and
``spark.sql.files.maxPartitionBytes`` packs many small files into one
task (the small-files problem) while a 2 GB file still lands in a
single row (the documented source limit -- shard bigger payloads
upstream). The resulting binary column feeds the multimodal decode
slots (operators/llm.py multimodal_meta et al.) without the bytes ever
touching the driver.

Oracle honesty: the fixture bytes are generated from module-level
constants, and the oracle VALUES CTE is built from the SAME constants
(length + md5 computed in Python at import), so the check asserts that
Spark's binaryFile scan faithfully reproduces every byte of every
file -- nothing is derived by running the query itself.
"""

from __future__ import annotations

import functools
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.store import scratch_dir

# Deterministic pseudo-binary payloads: varied sizes (including one
# empty file -- a real corpus always has a few) with byte patterns that
# exercise the full 0-255 range, so a lossy read (utf-8 mangling, null
# truncation) changes the digest. NOTE: Spark's binaryFile source
# skips zero-length files (they produce no splits), so scan_000.bin is
# a deliberate probe of that semantic -- the oracle excludes it with an
# explicit WHERE rather than silently agreeing.
_BIN_FILES = [
    ("scan_000.bin", 0),
    ("scan_001.bin", 64),
    ("scan_002.bin", 257),
    ("scan_003.bin", 1024),
    ("scan_004.bin", 4096),
    ("scan_005.bin", 10000),
]


def _payload(idx: int, size: int) -> bytes:
    return bytes((idx * 37 + j * 101 + 7) % 256 for j in range(size))


_BIN_ORACLE = (
    "WITH files(fname, n_bytes, digest) AS (VALUES "
    + ", ".join(
        f"('{name}', {size}, '{hashlib.md5(_payload(i, size)).hexdigest()}')"
        for i, (name, size) in enumerate(_BIN_FILES)
    )
    # binaryFile yields no row for empty files (zero-length files have
    # no splits to scan) -- mirror that documented semantic here.
    + ") SELECT fname, CAST(n_bytes AS INT) AS n_bytes, digest"
    " FROM files WHERE n_bytes > 0"
)


# One fixture dir per process: the files are immutable once written, so
# every session can share them.
@functools.cache
def _fixture_dir() -> str:
    d = scratch_dir("binfiles_")
    # decoy that pathGlobFilter must skip at listing time
    with open(os.path.join(d, "ignore.txt"), "wb") as f:
        f.write(b"not a scan")
    for i, (name, size) in enumerate(_BIN_FILES):
        with open(os.path.join(d, name), "wb") as f:
            f.write(_payload(i, size))
    return d


@register("scan_binary_files", oracle=_BIN_ORACLE)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest opaque binary files as rows: (file name, byte length,
    md5 digest). The digest is computed JVM-side over the binary
    column (no Python in the scan), proving the bytes survived the
    read intact -- the property every downstream multimodal decoder
    depends on. ``pathGlobFilter`` drops the planted decoy before any
    file is opened (listing-time pruning, the binary analogue of
    partition pruning)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(_fixture_dir())
    )
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        F.col("length").cast("int").alias("n_bytes"),
        F.md5(F.col("content")).alias("digest"),
    )
