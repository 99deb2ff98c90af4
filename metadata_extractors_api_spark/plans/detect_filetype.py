"""File-type detection — the reference's unimplemented plan item
(``/root/reference/README.md:94``: "File type detection following any
rules added to the schemas"), realized set-oriented.

The reference's ``extract(input_path, input_type)`` requires the caller
to KNOW the filetype (``__init__.py:45-55``); its README plans to close
that gap with per-schema detection rules. A distributed engine is
exactly where detection belongs: one ``binaryFile`` scan computes each
unlabeled file's (head bytes, extension) census, a broadcast join
against a detection-rules DIMENSION scores the candidates, and a
priority pick (lowest wins — magic-byte rules outrank extension rules,
first-wins within a class, matching the reference's A4 first-wins
posture) labels every file in one pass. Undetectable files flow to the
dead-letter relation (``extract_dead_letter``) instead of aborting the
batch.

Scale shape: the rules table is dimension-sized (broadcast; the OR-of
-predicates join is a BroadcastNestedLoopJoin against a handful of
rows — bounded work per file), the census reads only the first
``HEAD_LEN`` bytes of each payload column, and the priority pick is a
map-side-combinable ``min_by`` groupBy on the file key. Nothing is
driver-side; the plan is the same at 6 files or 6 billion.

Oracle honesty: fixture payloads are generated from module-level
constants and the oracle VALUES CTE is built from the SAME constants
(head hex computed in Python at import), so DuckDB re-derives the
detection relationally — any bug in the join/priority logic diverges.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.sources import registry as reg
from metadata_extractors_api_spark.store import memo, scratch_dir

#: bytes of payload the census inspects (magic prefixes are short).
HEAD_LEN = 32

#: real-world magic for BioLogic .mpr files (public format knowledge).
MPR_MAGIC = b"BIO-LOGIC MODULAR FILE\x1a"

#: detection-rules dimension: (filetype_id, method, pattern, priority).
#: Lower priority wins; magic rules outrank extension rules so a
#: mislabeled extension never overrides byte evidence.
DETECT_RULES: list[tuple[str, str, str, int]] = [
    ("biologic-mpr", "magic", MPR_MAGIC.hex().upper(), 1),
    ("example-csv", "extension", "csv", 10),
    ("biologic-mpr", "extension", "mpr", 11),
    ("orphan-type", "extension", "bin", 12),
]

#: unlabeled-file fixture: (fname, payload). Covers every detection
#: class: magic+ext agree, magic only, magic-vs-ext conflict (magic
#: wins), ext only, ext to a type with no extractor, undetectable.
DETECT_FILES: list[tuple[str, bytes]] = [
    ("nolabel_gcpl.mpr", MPR_MAGIC + bytes(range(64))),
    ("mystery.dat", MPR_MAGIC + b"\x00\x01\x02\x03"),
    ("renamed.csv", MPR_MAGIC + b"not,actually,csv"),
    ("plain_table.csv", b"ts,ch,val\n0,Ewe,1.25\n1,I,0.75\n"),
    ("trace.bin", bytes((7 * i + 3) % 256 for i in range(128))),
    ("opaque.xyz", b"\xde\xad\xbe\xef" * 8),
]

RULES_SCHEMA = "filetype_id STRING, method STRING, pattern STRING, priority INT"


@functools.cache
def _fixture_dir() -> str:
    d = scratch_dir("detect_")
    for name, payload in DETECT_FILES:
        with open(os.path.join(d, name), "wb") as fh:
            fh.write(payload)
    return d


def _files_values_sql() -> str:
    """DuckDB VALUES of the census the Spark scan computes: (fname,
    head_hex, ext) — derived from the SAME module constants."""
    rows = []
    for name, payload in DETECT_FILES:
        head = payload[:HEAD_LEN].hex().upper()
        ext = name.rsplit(".", 1)[1].lower() if "." in name else ""
        rows.append(f"('{name}', '{head}', '{ext}')")
    return "(VALUES " + ", ".join(rows) + ") AS dfiles(fname, head_hex, ext)"


def _rules_values_sql() -> str:
    rows = ", ".join(
        f"('{ft}', '{m}', '{p}', {pri})" for ft, m, p, pri in DETECT_RULES
    )
    return (
        "(VALUES "
        + rows
        + ") AS rules(filetype_id, method, pattern, priority)"
    )


DETECT_ORACLE = f"""
    WITH dfiles AS (SELECT * FROM {_files_values_sql()}),
         rules AS (SELECT * FROM {_rules_values_sql()}),
         filetypes AS (SELECT * FROM {reg.filetypes_values_sql()}),
    m AS (
      SELECT f.fname, r.filetype_id, r.method, r.priority
      FROM dfiles f JOIN rules r
        ON (r.method = 'magic'
            AND substr(f.head_hex, 1, length(r.pattern)) = r.pattern)
        OR (r.method = 'extension' AND f.ext = r.pattern)),
    best AS (
      SELECT fname, filetype_id, method
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY fname
                                         ORDER BY priority) AS rn
            FROM m)
      WHERE rn = 1)
    SELECT f.fname,
           b.filetype_id AS detected_type,
           coalesce(b.method, 'none') AS via,
           ft.registered_extractors[1] AS extractor_id
    FROM dfiles f
    LEFT JOIN best b ON f.fname = b.fname
    LEFT JOIN filetypes ft ON b.filetype_id = ft.id
"""


def detect_census(spark: SparkSession) -> DataFrame:
    """The per-file detection census: one binaryFile scan projecting
    (fname, head_hex, ext) — the only data-sized relation in the
    detection plan."""
    df = spark.read.format("binaryFile").load(_fixture_dir())
    fname = F.element_at(F.split(F.col("path"), "/"), -1)
    return df.select(
        fname.alias("fname"),
        F.hex(F.substring(F.col("content"), 1, HEAD_LEN)).alias("head_hex"),
        F.lower(F.regexp_extract(fname, r"\.([^.]+)$", 1)).alias("ext"),
    )


def detect_types(spark: SparkSession) -> DataFrame:
    """Census -> broadcast rules join -> priority pick. Returns one row
    per file: (fname, detected_type, via) with NULL/none for
    undetectable files."""
    files = detect_census(spark)
    rules = spark.createDataFrame(DETECT_RULES, RULES_SCHEMA)
    cond = (
        (F.col("method") == "magic")
        & F.col("head_hex").startswith(F.col("pattern"))
    ) | ((F.col("method") == "extension") & (F.col("ext") == F.col("pattern")))
    matched = files.join(F.broadcast(rules), cond)
    best = matched.groupBy("fname").agg(
        F.min_by(F.struct("filetype_id", "method"), "priority").alias("b")
    )
    return files.join(best, "fname", "left").select(
        "fname",
        F.col("b.filetype_id").alias("detected_type"),
        F.coalesce(F.col("b.method"), F.lit("none")).alias("via"),
    )


@register("stream_detect_filetype", oracle=DETECT_ORACLE)
def stream_detect_filetype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``extract_detect_filetype``: unlabeled files
    ARRIVE (binaryFile file-source stream, one file per trigger — the
    reference README's "parallel/continuous processing of many files",
    README.md:95-96) and each micro-batch runs the identical census →
    broadcast-rules join → priority pick → extractor resolution,
    appending labels to the result table. After the availableNow drain
    the accumulated labels must equal the batch detection exactly — the
    oracle IS the batch query's oracle. Scale: per-batch work is
    O(batch x rules); nothing is held between batches."""
    from metadata_extractors_api_spark.plans.extract_batch import (
        first_extractor,
    )
    from metadata_extractors_api_spark.streaming.windows import drain

    def build() -> str:
        out_dir = scratch_dir("detect_stream_out_")
        stream = (
            spark.readStream.format("binaryFile")
            .schema(
                "path STRING, modificationTime TIMESTAMP, "
                "length LONG, content BINARY"
            )
            .option("maxFilesPerTrigger", 1)
            .load(_fixture_dir())
        )
        fname = F.element_at(F.split(F.col("path"), "/"), -1)
        census = stream.select(
            fname.alias("fname"),
            F.hex(F.substring(F.col("content"), 1, HEAD_LEN)).alias(
                "head_hex"
            ),
            F.lower(F.regexp_extract(fname, r"\.([^.]+)$", 1)).alias("ext"),
        )
        rules = spark.createDataFrame(DETECT_RULES, RULES_SCHEMA)
        ft = reg.filetypes_df(spark).select(
            F.col("id").alias("detected_type"), "registered_extractors"
        )

        def process(batch_df: DataFrame, _batch_id: int) -> None:
            cond = (
                (F.col("method") == "magic")
                & F.col("head_hex").startswith(F.col("pattern"))
            ) | (
                (F.col("method") == "extension")
                & (F.col("ext") == F.col("pattern"))
            )
            matched = batch_df.join(F.broadcast(rules), cond)
            best = matched.groupBy("fname").agg(
                F.min_by(F.struct("filetype_id", "method"), "priority").alias(
                    "b"
                )
            )
            labeled = batch_df.join(best, "fname", "left").select(
                "fname",
                F.col("b.filetype_id").alias("detected_type"),
                F.coalesce(F.col("b.method"), F.lit("none")).alias("via"),
            )
            labeled.join(F.broadcast(ft), "detected_type", "left").select(
                "fname",
                "detected_type",
                "via",
                first_extractor(F.col("registered_extractors")).alias(
                    "extractor_id"
                ),
            ).write.mode("append").parquet(out_dir)

        drain(spark, census.writeStream.foreachBatch(process), partitions=None)
        return out_dir

    out_dir = memo(spark, "stream_detect_filetype", build)
    return spark.read.schema(
        "fname string, detected_type string, via string, extractor_id string"
    ).parquet(out_dir)


@register("extract_detect_filetype", oracle=DETECT_ORACLE)
def extract_detect_filetype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection feeding dispatch: every unlabeled file labeled by the
    rules dimension and resolved to its would-be extractor (A4
    first-wins over the detected type's registered list) — the exact
    hand-off the reference README plans ("File type detection following
    any rules added to the schemas" -> ``extract()``). NULL
    detected_type marks the undetectable dead-letter class; NULL
    extractor_id with a detected type marks the no-extractor class
    (both quarantined by ``extract_dead_letter``)."""
    detected = detect_types(spark)
    ft = reg.filetypes_df(spark).select(
        F.col("id").alias("detected_type"), "registered_extractors"
    )
    from metadata_extractors_api_spark.plans.extract_batch import first_extractor

    return detected.join(F.broadcast(ft), "detected_type", "left").select(
        "fname",
        "detected_type",
        "via",
        first_extractor(F.col("registered_extractors")).alias("extractor_id"),
    )
