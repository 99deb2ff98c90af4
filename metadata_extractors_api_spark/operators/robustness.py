"""Robustness / data-management operators: schema evolution across
parquet generations, permissive ingestion of malformed records, JSON
round-trips, and portable full-table checksums -- the operational
surface a long-lived 100 TB lakehouse needs around the query engine.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_extractors_api_spark.catalog import load
from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.store import memo, scratch_dir


@register(
    "scan_schema_evolution",
    oracle="""
    SELECT 1 AS gen, COUNT(*) AS n, 0 AS n_with_new_col FROM region
    UNION ALL
    SELECT 2, COUNT(*), COUNT(*) FROM region
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: generation 1 writes (r_regionkey, r_name),
    generation 2 adds a column; mergeSchema=true reads both with the
    union schema, old rows NULL-filled -- how a 100 TB table grows
    columns without rewriting history. Oracle: per-generation counts
    with the new column NULL-filled for generation 1."""
    base = scratch_dir("evo_")
    r = load(spark, sf_dir, "region")
    r.select("r_regionkey", "r_name").write.mode("overwrite").parquet(
        os.path.join(base, "gen=1")
    )
    r.select(
        "r_regionkey", "r_name", F.length("r_name").cast("int").alias("name_len")
    ).write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return merged.groupBy(F.col("gen").cast("int").alias("gen")).agg(
        F.count("*").alias("n"),
        F.count("name_len").cast("int").alias("n_with_new_col"),
    )


# One source of truth for the permissive-CSV fixture: these rows feed
# BOTH the CSV file Spark parses and the oracle's VALUES CTE, so the
# oracle re-derives the quarantine split with TRY_CAST instead of
# asserting literal counts. Rows 2 and 4 are malformed (qty / price).
_CSV_ROWS = [
    ("1", "10", "99.5"),
    ("2", "notanumber", "88.0"),
    ("3", "30", "77.25"),
    ("4", "40", "oops"),
]

_CSV_ORACLE = (
    "WITH raw(id_s, qty_s, price_s) AS (VALUES "
    + ", ".join(f"('{i}', '{q}', '{p}')" for i, q, p in _CSV_ROWS)
    + """)
    SELECT CAST(COUNT(*) AS INT) AS total,
           CAST(SUM(CASE WHEN TRY_CAST(qty_s AS INT) IS NULL
                           OR TRY_CAST(price_s AS DOUBLE) IS NULL
                         THEN 1 ELSE 0 END) AS INT) AS quarantined
    FROM raw
    """
)


@register("scan_csv_permissive", oracle=_CSV_ORACLE)
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive CSV ingestion: malformed rows land in _corrupt_record
    instead of failing the job (the reference raised on any shape
    mismatch, §1.3; a 100 TB ingest quarantines instead). Returns the
    good/bad split; the oracle re-derives it from the same fixture rows
    with TRY_CAST rather than asserting constants."""

    # The parsed CSV must stay cached (the corrupt-record column is
    # filled during parsing), so ONE cached copy is built per session
    # instead of pinning a new one per invocation.
    def build() -> DataFrame:
        d = scratch_dir("csv_")
        path = os.path.join(d, "in.csv")
        with open(path, "w") as f:
            f.write("id,qty,price\n")
            for row in _CSV_ROWS:
                f.write(",".join(row) + "\n")
        df = (
            spark.read.option("header", "true")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .schema("id INT, qty INT, price DOUBLE, _corrupt_record STRING")
            .csv(path)
        )
        # Spark requires referencing the corrupt-record column only
        # after caching (it is filled during parsing, not derivable
        # from a re-parse of projected columns).
        return df.cache()

    return memo(spark, "scan_csv_permissive", build).agg(
        F.count("*").cast("int").alias("total"),
        F.count("_corrupt_record").cast("int").alias("quarantined"),
    )


@register(
    "fn_json_roundtrip",
    oracle="""
    SELECT s_suppkey,
           CAST(json_extract_string(
             json_object('key', s_suppkey, 'nation', s_nationkey,
                         'bal', round(s_acctbal, 2)),
             '$.nation') AS INT) AS nation_rt,
           round(CAST(json_extract_string(
             json_object('key', s_suppkey, 'nation', s_nationkey,
                         'bal', round(s_acctbal, 2)),
             '$.bal') AS DOUBLE), 2) AS bal_rt
    FROM supplier
    """,
)
def fn_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct -> JSON -> extract round-trip (the registry payload cycle
    in miniature). Compared on re-extracted typed fields, not raw JSON
    text (engines format JSON differently)."""
    s = load(spark, sf_dir, "supplier")
    payload = F.to_json(
        F.struct(
            F.col("s_suppkey").alias("key"),
            F.col("s_nationkey").alias("nation"),
            F.round("s_acctbal", 2).alias("bal"),
        )
    )
    return s.select(
        "s_suppkey",
        F.get_json_object(payload, "$.nation").cast("int").alias("nation_rt"),
        F.round(F.get_json_object(payload, "$.bal").cast("double"), 2).alias(
            "bal_rt"
        ),
    )


@register(
    "table_checksum",
    oracle="""
    SELECT CAST(SUM(('0x' || substr(md5(
             CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|'
             || CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
           ), 1, 8))::BIGINT) AS BIGINT) AS checksum,
           COUNT(*) AS n_rows
    FROM orders
    """,
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable full-table checksum: per-row md5 over a canonical string
    of key columns, summed as int64 (order-independent, partition-proof,
    engine-agnostic). The audit primitive for migration/replication at
    scale -- two engines agreeing on (checksum, n_rows) is a one-row
    proof of table equality."""
    o = load(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
    )
    rowhash = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("bigint")
    return o.agg(
        F.sum(rowhash).cast("bigint").alias("checksum"),
        F.count("*").alias("n_rows"),
    )


# One source of truth for the permissive-JSONL fixture (same discipline
# as _CSV_ROWS): lines 2 and 5 are malformed JSON, line 3 is valid JSON
# whose id is not castable, line 4 is missing a field.
_JSONL_LINES = [
    '{"id": 1, "name": "alpha"}',
    '{"id": 2, "name": "beta"',
    '{"id": "three", "name": "gamma"}',
    '{"id": 4}',
    'not json at all',
    '{"id": 6, "name": "zeta"}',
]


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


_JSONL_ORACLE = (
    "WITH raw(line) AS (VALUES "
    + ", ".join(f"({_sql_str(ln)})" for ln in _JSONL_LINES)
    + """)
    SELECT CASE WHEN json_valid(line)
                THEN TRY_CAST(json_extract_string(line, '$.id') AS INT)
           END AS id,
           CASE WHEN json_valid(line)
                THEN json_extract_string(line, '$.name')
           END AS name,
           CASE WHEN NOT json_valid(line)
                  OR (json_extract(line, '$.id') IS NOT NULL
                      AND TRY_CAST(json_extract_string(line, '$.id') AS INT)
                          IS NULL)
                THEN line
           END AS corrupt_raw
    FROM raw
    """
)


@register("scan_jsonl_corrupt", oracle=_JSONL_ORACLE)
def scan_jsonl_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive JSONL ingestion with field-level salvage: Spark keeps
    every field it CAN parse (a type-mismatched id nulls that field and
    quarantines the raw line in the corrupt column; the rest of the row
    survives), malformed JSON nulls the whole row -- the
    maximum-salvage ingest policy for web-scraped corpora where a
    whole-row reject would discard salvageable text. The oracle
    re-derives the identical salvage rule from the same fixture lines
    with json_valid + TRY_CAST, so the parsing POLICY (not literal
    counts) is what's checked. Cached once per session, like
    scan_csv_permissive: the corrupt column is filled during parsing."""

    def build() -> DataFrame:
        d = scratch_dir("jsonl_")
        path = os.path.join(d, "in.jsonl")
        with open(path, "w") as f:
            f.write("\n".join(_JSONL_LINES) + "\n")
        return (
            spark.read.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .schema("id INT, name STRING, _corrupt_record STRING")
            .json(path)
        ).cache()

    df = memo(spark, "scan_jsonl_corrupt", build)
    return df.select(
        "id", "name", F.col("_corrupt_record").alias("corrupt_raw")
    )


@register(
    "profile_table",
    oracle="""
    SELECT 'l_quantity' AS col_name,
           COUNT(*) - COUNT(l_quantity) AS n_null,
           COUNT(DISTINCT l_quantity) AS n_distinct,
           CAST(MIN(l_quantity) AS VARCHAR) AS min_val,
           CAST(MAX(l_quantity) AS VARCHAR) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           COUNT(*) - COUNT(l_extendedprice),
           COUNT(DISTINCT l_extendedprice),
           CAST(MIN(l_extendedprice) AS VARCHAR),
           CAST(MAX(l_extendedprice) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag',
           COUNT(*) - COUNT(l_returnflag),
           COUNT(DISTINCT l_returnflag),
           MIN(l_returnflag), MAX(l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate',
           COUNT(*) - COUNT(l_shipdate),
           COUNT(DISTINCT l_shipdate),
           strftime(MIN(l_shipdate), '%Y-%m-%d %H:%M:%S'),
           strftime(MAX(l_shipdate), '%Y-%m-%d %H:%M:%S')
    FROM lineitem
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler (the df.summarize / data-quality audit shape):
    null count, distinct count, and min/max per profiled column, in
    long format. ONE scan computes every statistic -- the per-column
    UNION in the oracle is the semantic spec, but the Spark plan
    aggregates all 16 measures in a single partial+final HashAggregate
    pass and unpivots the 1-row result with a stack() projection, so
    profiling cost at 100 TB is one read of the table regardless of
    how many columns are profiled. Min/max stringify AFTER the numeric
    aggregation (profiling must not compare numerics lexically)."""
    li = load(spark, sf_dir, "lineitem")
    num = lambda c: [  # noqa: E731
        (F.count(F.lit(1)) - F.count(c)).alias(f"null_{c}"),
        F.count_distinct(F.col(c)).alias(f"nd_{c}"),
        F.min(c).cast("string").alias(f"min_{c}"),
        F.max(c).cast("string").alias(f"max_{c}"),
    ]
    ts = lambda c: [  # noqa: E731
        (F.count(F.lit(1)) - F.count(c)).alias(f"null_{c}"),
        F.count_distinct(F.col(c)).alias(f"nd_{c}"),
        F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss").alias(f"min_{c}"),
        F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss").alias(f"max_{c}"),
    ]
    one = li.agg(
        *num("l_quantity"),
        *num("l_extendedprice"),
        *num("l_returnflag"),
        *ts("l_shipdate"),
    )
    stack = ", ".join(
        f"'{c}', null_{c}, nd_{c}, min_{c}, max_{c}"
        for c in ["l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"]
    )
    return one.select(
        F.expr(
            f"stack(4, {stack}) AS (col_name, n_null, n_distinct, min_val, max_val)"
        )
    )


@register(
    "scan_parquet_corrupt",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT r_regionkey) AS BIGINT) AS n_keys
    FROM region
    """,
)
def scan_parquet_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file tolerance for the binary-format path (the parquet
    sibling of scan_csv_permissive/scan_jsonl_corrupt's row-level
    salvage): a directory holding one good parquet file and one
    truncated-garbage file reads to exactly the good file's rows under
    ignoreCorruptFiles -- the quarantine policy a 100 TB lake needs
    when an upstream writer dies mid-file, because one bad object must
    cost its own rows, never the job. Tolerance is a PER-READ data
    source option (not session conf), so it travels with the returned
    plan instead of leaking mutated session state."""
    base = scratch_dir("corrupt_")
    good_dir = os.path.join(base, "t")
    src = load(spark, sf_dir, "region")
    src.coalesce(1).write.mode("overwrite").parquet(good_dir)
    # a parquet-named file that is not parquet: header bytes then junk
    with open(os.path.join(good_dir, "part-junk.parquet"), "wb") as fh:
        fh.write(b"PAR1" + b"\x00garbage\x00" * 64)
    back = (
        spark.read.schema("r_regionkey BIGINT, r_name STRING")
        .option("ignoreCorruptFiles", "true")
        .parquet(good_dir)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("r_regionkey").alias("n_keys"),
    )


@register(
    "snapshot_diff",
    oracle="""
    WITH today AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
    yesterday AS (
      SELECT o_orderkey,
             o_orderstatus,
             CASE WHEN o_orderkey % 13 = 0
                  THEN round(o_totalprice - 1.0, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0),
    d AS (
      SELECT t.o_orderkey AS tk, y.o_orderkey AS yk,
             CASE WHEN t.o_orderkey IS NOT NULL
                   AND y.o_orderkey IS NOT NULL
                   AND (t.o_orderstatus <> y.o_orderstatus
                        OR t.o_totalprice <> y.o_totalprice)
                  THEN 1 ELSE 0 END AS changed
      FROM today t FULL OUTER JOIN yesterday y
        ON t.o_orderkey = y.o_orderkey)
    SELECT CAST(SUM(CASE WHEN yk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_added,
           CAST(SUM(CASE WHEN tk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           CAST(SUM(changed) AS BIGINT) AS n_changed,
           CAST(SUM(CASE WHEN tk IS NOT NULL AND yk IS NOT NULL
                          AND changed = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unchanged
    FROM d
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: the added / removed / changed /
    unchanged audit between two table versions -- the data-diff every
    warehouse runs after a load to prove the delta did what the
    manifest claimed. Yesterday's snapshot is derived deterministically
    (keys divisible by 97 absent, every 13th price perturbed) so the
    expected report is oracle-computable; the diff itself is the
    general mechanism: one full-outer join on the key with change
    predicates over compared columns, aggregated into the audit row.
    Scale: the join shuffles both snapshots once on the key; column
    comparison is codegen'd; at 100 TB the same diff runs partition-
    parallel and a content-hash column (table_checksum's digest) cuts
    the compared width to one column per side."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    today = o
    yesterday = o.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 13 == 0,
            F.round(F.col("o_totalprice") - 1.0, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    t = today.withColumnsRenamed(
        {"o_orderkey": "tk", "o_orderstatus": "ts_", "o_totalprice": "tp"}
    )
    y = yesterday.withColumnsRenamed(
        {"o_orderkey": "yk", "o_orderstatus": "ys", "o_totalprice": "yp"}
    )
    d = t.join(y, t.tk == y.yk, "full")
    changed = (
        t.tk.isNotNull()
        & y.yk.isNotNull()
        & ((F.col("ts_") != F.col("ys")) | (F.col("tp") != F.col("yp")))
    ).cast("int")
    return d.agg(
        F.sum(y.yk.isNull().cast("int")).cast("bigint").alias("n_added"),
        F.sum(t.tk.isNull().cast("int")).cast("bigint").alias("n_removed"),
        F.sum(changed).cast("bigint").alias("n_changed"),
        F.sum(
            (t.tk.isNotNull() & y.yk.isNotNull() & (changed == 0)).cast("int")
        )
        .cast("bigint")
        .alias("n_unchanged"),
    )


# Quoted-CSV fixture: the corner semantics that break naive splitters.
# (description, note) pairs -- description exercises embedded commas,
# escaped quotes (RFC 4180 doubling), embedded NEWLINES inside a quoted
# field, and leading/trailing spaces preserved by quoting.
_CSVQ_ROWS: list[tuple[int, str, str]] = [
    (1, "plain value", "simple"),
    (2, "comma, inside", "embedded delimiter"),
    (3, 'she said ""hi""', "escaped quotes"),
    (4, "line one\nline two", "embedded newline"),
    (5, "  padded  ", "quoted spaces kept"),
]


def _csvq_text() -> str:
    lines = ["id,description,note"]
    for i, desc, note in _CSVQ_ROWS:
        lines.append(f'{i},"{desc}","{note}"')
    return "\n".join(lines) + "\n"


def _csvq_oracle() -> str:
    vals = ", ".join(
        "({}, '{}', '{}')".format(
            i,
            desc.replace('""', '"').replace("'", "''").replace("\n", "\\n"),
            note,
        )
        for i, desc, note in _CSVQ_ROWS
    )
    return f"""
    WITH rows(id, description, note) AS (VALUES {vals})
    SELECT CAST(id AS BIGINT) AS id,
           replace(description, '\\n', chr(10)) AS description,
           note,
           CAST(length(replace(description, '\\n', chr(10))) AS BIGINT)
               AS n_chars,
           CAST(CASE WHEN position(chr(10) IN
                       replace(description, '\\n', chr(10))) > 0
                     THEN 1 ELSE 0 END AS BOOLEAN) AS multiline
    FROM rows
    """


@functools.cache
def _csvq_dir() -> str:
    d = scratch_dir("csvq_")
    with open(os.path.join(d, "quoted.csv"), "w") as fh:
        fh.write(_csvq_text())
    return d


@register("scan_csv_quoted", oracle=_csvq_oracle())
def scan_csv_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 4180 quoting semantics under Spark's CSV reader: embedded
    delimiters, doubled-quote escapes, quoted multiline fields
    (``multiLine=true`` — the option that switches the scan from
    line-splittable to whole-file parsing, the classic correctness/
    parallelism trade), and whitespace preservation inside quotes. The
    oracle re-states the five rows from the same constants the file is
    generated from, so any dequoting/escape/newline mishandling in the
    parse shows as a value diff. Scale note: multiLine CSV files are
    NOT splittable (one task per file) — the docstringed trade is to
    keep multiline corpora as many medium files, which this fixture's
    one-file-per-scan shape mirrors."""
    df = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .schema("id BIGINT, description STRING, note STRING")
        .csv(_csvq_dir())
    )
    return df.select(
        "id",
        "description",
        "note",
        F.length("description").cast("bigint").alias("n_chars"),
        F.col("description").contains("\n").alias("multiline"),
    )


@register("sink_csv_roundtrip_quoted", oracle=_csvq_oracle())
def sink_csv_roundtrip_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITER-side RFC 4180 quoting: the same five adversarial rows
    (embedded delimiters, quotes, newlines, padding) are written by
    Spark's CSV SINK and read back by its source — the full roundtrip
    must reproduce every byte, proving the writer quotes/escapes what
    the reader dequotes (the failure mode is silent column shift on
    the NEXT consumer, which no write-side check catches). Shares
    scan_csv_quoted's oracle: the roundtripped relation must equal
    the original constants."""

    def build() -> str:
        # the fixture rows carry RFC-doubled quotes in the RAW file; the
        # in-memory truth dequotes them (same transform the oracle states)
        truth = [(i, d.replace('""', '"'), n) for i, d, n in _CSVQ_ROWS]
        df = spark.createDataFrame(
            truth, "id BIGINT, description STRING, note STRING"
        )
        target = os.path.join(scratch_dir("csvw_"), "written")
        # the CSV WRITER trims whitespace by default
        # (ignore*WhiteSpace=true on write, false on read) — a
        # writer-only default that silently corrupts quoted padding;
        # disabling it is part of what this roundtrip pins
        df.coalesce(1).write.option("header", True).option(
            "escape", '"'
        ).option("ignoreLeadingWhiteSpace", False).option(
            "ignoreTrailingWhiteSpace", False
        ).mode("overwrite").csv(target)
        return target

    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .schema("id BIGINT, description STRING, note STRING")
        .csv(memo(spark, "sink_csv_roundtrip_quoted", build))
    )
    return back.select(
        "id",
        "description",
        "note",
        F.length("description").cast("bigint").alias("n_chars"),
        F.col("description").contains("\n").alias("multiline"),
    )


@register("scan_parquet_footer_stats")
def scan_parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet FOOTER observability: per-(row group, column) row
    counts and compressed/uncompressed chunk sizes read from the file
    metadata alone — the audit that explains scan behavior (which
    columns dominate I/O, whether row groups are sized for the
    maxPartitionBytes split, whether min/max skipping can work)
    without touching a single data page. The footer read is
    metadata-sized driver work (pyarrow), exactly like catalog
    ANALYZE. No SQL oracle: the driver's DuckDB views expose table
    ROWS, not file metadata, so this is a rows-only entry — the value
    differential runs in tests/test_robustness.py instead, against
    DuckDB's INDEPENDENT parquet_metadata() implementation of the
    footer spec (a misread field cannot pass). At 100 TB the same
    read runs as a parallelized file-listing job over the manifest
    (one footer per task); per-file output stays metadata-sized."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(f"{sf_dir}/lineitem.parquet").metadata
    rows = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        for j in range(rg.num_columns):
            col = rg.column(j)
            rows.append(
                (
                    i,
                    col.path_in_schema,
                    rg.num_rows,
                    col.total_compressed_size,
                    col.total_uncompressed_size,
                )
            )
    return spark.createDataFrame(
        rows,
        "row_group bigint, column_name string, num_rows bigint, "
        "compressed_bytes bigint, uncompressed_bytes bigint",
    )
