"""XML ingestion via Spark 4's built-in ``xml`` source — the
instrument-adjacent format the reference ecosystem meets constantly
(vendor exports, run manifests), read distributed with a declared
schema instead of a per-file parser loop (reference
``extract(input_path, ...)`` opens one file at a time,
``__init__.py:45-57``).

The fixture exercises the parts of XML that break naive readers:
attributes (``_id`` via attributePrefix), nested elements flattened
through a struct, a repeated child element (arrays), and one
malformed record captured under PERMISSIVE mode's corrupt-record
column rather than failing the scan — the same quarantine posture as
``scan_jsonl_corrupt``.

Oracle honesty: the XML text is generated from module-level constants
and the oracle VALUES CTE is built from the SAME constants, so the
check asserts Spark's XML parse (attribute routing, nesting, array
collection, corrupt capture) reproduces the declared rows — nothing is
derived by running the query.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.store import scratch_dir

#: (run id, instrument, points, channel list) — the well-formed rows.
XML_RUNS: list[tuple[int, str, int, list[str]]] = [
    (1, "biologic-vmp3", 5, ["Ewe", "I"]),
    (2, "biologic-vmp3", 3, ["Ewe"]),
    (3, "arbin-bt2000", 7, ["V", "A", "T"]),
]


def _xml_text() -> str:
    rows = []
    for rid, instr, pts, chans in XML_RUNS:
        ch = "".join(f"<channel>{c}</channel>" for c in chans)
        rows.append(
            f'<run id="{rid}"><meta><instrument>{instr}</instrument>'
            f"<points>{pts}</points></meta>{ch}</run>"
        )
    # one malformed record: unclosed <meta> -> PERMISSIVE corrupt row
    # (the WHOLE record nulls out, attributes included -- the oracle
    # states NULL run_id, matching Spark's all-or-nothing capture)
    rows.append('<run id="99"><meta><instrument>broken</run>')
    return "<runs>" + "".join(rows) + "</runs>"


@functools.cache
def _fixture_dir() -> str:
    d = scratch_dir("xml_")
    with open(os.path.join(d, "runs.xml"), "w") as fh:
        fh.write(_xml_text())
    return d


def _oracle() -> str:
    vals = ", ".join(
        f"({rid}, '{instr}', {pts}, {len(chans)}, "
        f"'{','.join(chans)}', FALSE)"
        for rid, instr, pts, chans in XML_RUNS
    )
    return f"""
    WITH runs(run_id, instrument, points, n_channels, channels, corrupt)
      AS (VALUES {vals}, (NULL, NULL, NULL, 0, '', TRUE))
    SELECT CAST(run_id AS BIGINT) AS run_id, instrument,
           CAST(points AS BIGINT) AS points,
           CAST(n_channels AS BIGINT) AS n_channels,
           channels, corrupt
    FROM runs
    """


@register("scan_xml_nested", oracle=_oracle())
def scan_xml_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-schema XML scan: attribute ids, nested metadata
    struct, repeated child elements as an array, and a malformed
    record quarantined into the corrupt column under PERMISSIVE mode.
    The projection flattens to a relational shape (array length +
    joined channel list) so the oracle can state it as VALUES. At
    scale the xml source distributes like any file source (one task
    per split of the file listing); schema declaration keeps the scan
    single-pass (no inference read)."""
    df = (
        spark.read.format("xml")
        .option("rowTag", "run")
        .option("attributePrefix", "_")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .schema(
            "_id BIGINT, "
            "meta STRUCT<instrument: STRING, points: BIGINT>, "
            "channel ARRAY<STRING>, _corrupt STRING"
        )
        .load(_fixture_dir())
    )
    return df.select(
        F.col("_id").alias("run_id"),
        F.when(F.col("_corrupt").isNull(), F.col("meta.instrument")).alias(
            "instrument"
        ),
        F.when(F.col("_corrupt").isNull(), F.col("meta.points")).alias(
            "points"
        ),
        F.when(
            F.col("_corrupt").isNull(), F.size(F.coalesce("channel", F.array()))
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_channels"),
        F.coalesce(
            F.array_join(F.col("channel"), ","), F.lit("")
        ).alias("channels"),
        F.col("_corrupt").isNotNull().alias("corrupt"),
    )
