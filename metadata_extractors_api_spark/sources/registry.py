"""Registry-as-data: the reference's live REST registry
(GET /filetypes/{id}, GET /extractors/{id} -- __init__.py:96-123)
re-founded as local DataFrames with declared schemas (SURVEY.md §1.3).

The fixture rows mirror the canonical extractor-entry shape from the
reference's own tests (tests/test_mpr.py:77-95): nested
supported_filetypes (with optional template overrides), ordered usage
lists (order matters: A7's fallback is the LAST row), and installation
specs. One source of truth below feeds BOTH the Spark DataFrames and
the DuckDB VALUES CTEs used by the oracle, so the two engines always see
identical registry content.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from metadata_extractors_api_spark.store import memo

# --- fixture literals -------------------------------------------------------

FILETYPES: list[tuple] = [
    ("biologic-mpr", "BioLogic EC-Lab binary", ["yadg", "alt-extractor"]),
    ("example-csv", "Example CSV table", ["csv-extract"]),
    ("orphan-type", "No registered extractors", []),
]

EXTRACTORS: list[tuple] = [
    (
        "yadg",
        [("biologic-mpr", None)],
        [
            ("python", "yadg", "yadg.extractors.extract({{ input_type }}, {{ input_path }})"),
            ("cli", "", "yadg extract {{ input_path }} -o {{ output_path }}"),
        ],
        [("pip", ">=3.9", None, ["yadg~=5.0"])],
    ),
    (
        "alt-extractor",
        [("biologic-mpr", {"input_type": "mpr"})],
        [("cli", "", "altx {{ input_type }} {{ input_path }}")],
        # conda FIRST: the reference's install() walks specs in order
        # and RAISES on any non-pip method before trying later specs
        # (__init__.py:193-216 — conda is rejected, not skipped), so
        # this entry exercises the error_method_unsupported path in
        # extract_install_plan. scan_custom_source's first-package
        # probe is unaffected (same packages list).
        [("conda", None, None, ["altx"]), ("pip", None, None, ["altx"])],
    ),
    (
        "csv-extract",
        [("example-csv", None)],
        [("cli", "", "csvx {{ input_path }} {{ output_path }}")],
        [("pip", None, None, ["csvx>=1"])],
    ),
]

# --- snapshot B: the registry after an update cycle -------------------------
#
# The reference's reality is a LIVING registry (marda_extractors_api
# re-fetches /filetypes/{id} and /extractors/{id} per run,
# __init__.py:96-123): extractors get registered, deregistered, and
# their templates edited between runs. Snapshot B applies one mutation
# of each kind the dispatch path consumes (__init__.py:236-247):
#   * template changed -- yadg's biologic-mpr entry gains an
#     input_type override, so the same files re-render differently;
#   * extractor removed -- example-csv loses csv-extract, so its files
#     stop dispatching;
#   * extractor added -- orphan-type gains bin-extract, so the
#     previously-orphaned file starts dispatching.
FILETYPES_B: list[tuple] = [
    ("biologic-mpr", "BioLogic EC-Lab binary", ["yadg", "alt-extractor"]),
    ("example-csv", "Example CSV table", []),
    ("orphan-type", "No registered extractors", ["bin-extract"]),
]

EXTRACTORS_B: list[tuple] = [
    (
        "yadg",
        [("biologic-mpr", {"input_type": "mpr-v2"})],
        [
            ("python", "yadg", "yadg.extractors.extract({{ input_type }}, {{ input_path }})"),
            ("cli", "", "yadg extract {{ input_path }} -o {{ output_path }}"),
        ],
        [("pip", ">=3.9", None, ["yadg~=5.1"])],
    ),
    (
        "alt-extractor",
        [("biologic-mpr", {"input_type": "mpr"})],
        [("cli", "", "altx {{ input_type }} {{ input_path }}")],
        [("pip", None, None, ["altx"])],
    ),
    (
        "bin-extract",
        [("orphan-type", None)],
        [("cli", "", "binx {{ input_path }} -o {{ output_path }}")],
        [("pip", None, None, ["binx"])],
    ),
]

FILES: list[tuple] = [
    (1, "/data/gcpl.mpr", "biologic-mpr", 1048576),
    (2, "/data/ocv.mpr", "biologic-mpr", 524288),
    (3, "https://example.com/peis.mpr", "biologic-mpr", 262144),
    (4, "/data/table.csv", "example-csv", 2048),
    (5, "/data/unknown.bin", "orphan-type", 128),
    (6, "/data/other.csv", "example-csv", 4096),
]

FILETYPES_SCHEMA = (
    "id STRING, description STRING, registered_extractors ARRAY<STRING>"
)
EXTRACTORS_SCHEMA = (
    "id STRING, "
    "supported_filetypes ARRAY<STRUCT<id: STRING, template: MAP<STRING, STRING>>>, "
    "usage ARRAY<STRUCT<method: STRING, setup: STRING, command: STRING>>, "
    "installation ARRAY<STRUCT<method: STRING, requires_python: STRING, "
    "requirements: STRING, packages: ARRAY<STRING>>>"
)
FILES_SCHEMA = "file_id BIGINT, path STRING, filetype_id STRING, size_bytes BIGINT"


def _frame(spark: SparkSession, name: str, rows, schema: str) -> DataFrame:
    """The fixture rows as a DataFrame of the declared schema. Built
    from a pyarrow Table typed by that schema, so the frame is a
    LocalRelation whose rows live in the plan itself (a broadcast of it
    is collected in the driver) rather than an RDD of pickled slices
    that every query re-scans in tasks. createDataFrame pays a
    driver-side Py->JVM conversion every call and the fixtures are
    immutable, so each frame is built once per session."""

    def build() -> DataFrame:
        struct = StructType.fromDDL(schema)
        table = pa.Table.from_pylist(
            [dict(zip(struct.names, row)) for row in rows],
            schema=to_arrow_schema(struct),
        )
        return spark.createDataFrame(table)

    return memo(spark, ("registry", name), build)


def filetypes_df(spark: SparkSession) -> DataFrame:
    return _frame(spark, "filetypes", FILETYPES, FILETYPES_SCHEMA)


def extractors_df(spark: SparkSession) -> DataFrame:
    return _frame(spark, "extractors", EXTRACTORS, EXTRACTORS_SCHEMA)


def files_df(spark: SparkSession) -> DataFrame:
    return _frame(spark, "files", FILES, FILES_SCHEMA)


def filetypes_b_df(spark: SparkSession) -> DataFrame:
    return _frame(spark, "filetypes_b", FILETYPES_B, FILETYPES_SCHEMA)


def extractors_b_df(spark: SparkSession) -> DataFrame:
    return _frame(spark, "extractors_b", EXTRACTORS_B, EXTRACTORS_SCHEMA)


# --- DuckDB renderings of the same fixtures ---------------------------------


def _sql_str(s: str | None) -> str:
    if s is None:
        return "NULL"
    return "'" + s.replace("'", "''") + "'"


def _sql_strlist(xs: list[str]) -> str:
    if not xs:
        return "[]::VARCHAR[]"
    return "[" + ", ".join(_sql_str(x) for x in xs) + "]"


def _sql_map(m: dict | None) -> str:
    if m is None:
        return "NULL::MAP(VARCHAR, VARCHAR)"
    keys = _sql_strlist(list(m.keys()))
    vals = _sql_strlist(list(m.values()))
    return f"map({keys}, {vals})"


def filetypes_values_sql(fixture: list[tuple] | None = None) -> str:
    rows = ", ".join(
        f"({_sql_str(i)}, {_sql_str(d)}, {_sql_strlist(r)})"
        for i, d, r in (FILETYPES if fixture is None else fixture)
    )
    return f"(VALUES {rows}) AS filetypes(id, description, registered_extractors)"


def extractors_values_sql(fixture: list[tuple] | None = None) -> str:
    rows = []
    for eid, supported, usage, installation in (
        EXTRACTORS if fixture is None else fixture
    ):
        sup = "[" + ", ".join(
            f"{{'id': {_sql_str(sid)}, 'template': {_sql_map(tpl)}}}"
            for sid, tpl in supported
        ) + "]"
        use = "[" + ", ".join(
            f"{{'method': {_sql_str(m)}, 'setup': {_sql_str(s)}, 'command': {_sql_str(c)}}}"
            for m, s, c in usage
        ) + "]"
        inst = "[" + ", ".join(
            f"{{'method': {_sql_str(m)}, 'requires_python': {_sql_str(rp)}, "
            f"'requirements': {_sql_str(rq)}, 'packages': {_sql_strlist(p)}}}"
            for m, rp, rq, p in installation
        ) + "]"
        rows.append(f"({_sql_str(eid)}, {sup}, {use}, {inst})")
    return (
        "(VALUES "
        + ", ".join(rows)
        + ") AS extractors(id, supported_filetypes, usage, installation)"
    )


def files_values_sql() -> str:
    rows = ", ".join(
        f"({fid}, {_sql_str(p)}, {_sql_str(ft)}, {sz})" for fid, p, ft, sz in FILES
    )
    return f"(VALUES {rows}) AS files(file_id, path, filetype_id, size_bytes)"
