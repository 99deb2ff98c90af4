"""Scale-technique operators: the partitioning/bucketing/salting
patterns that keep the engine's plans viable at 100 TB, each exposed as
a runnable query so they are tested, not just described.

- Bucketed co-located join: both sides pre-bucketed on the join key ->
  SortMergeJoin with ZERO exchange (the bucketing carries the
  partitioning contract across queries).
- Salted join: a deliberately skewed key is split into key x salt
  sub-keys, restoring parallelism; the dim side replicates per salt.
  (AQE's skew-join split handles moderate skew automatically; salting is
  the explicit form for pathological keys.)
- Partitioned sink + partition-pruned scan: writes the fact table
  partitioned by a low-cardinality column, then reads one partition --
  the scan must touch only that directory.
- Multi-format sinks: parquet/json/csv round-trips.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_extractors_api_spark.catalog import load
from metadata_extractors_api_spark.operators.relational import dsum, money
from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.session import conf_scope
from metadata_extractors_api_spark.store import memo, scratch_dir


@register(
    "join_bucketed",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(14,2))), 2) AS DOUBLE)
               AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join via bucketing: both tables are written
    bucketed on the join key, so the join runs with no exchange on
    either side -- at 100 TB this converts the biggest shuffle in the
    workload into a local merge per bucket. (Bucket metadata lives in
    the session catalog; tables are created once per warehouse.)"""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # Bucketed tables need the session catalog (bucket spec lives in
    # table metadata). Clear any stale table AND its leftover warehouse
    # directory: a fresh session does not know the table but the managed
    # location can survive from a previous process that shared the
    # warehouse (SPARK_GRAFT_WAREHOUSE).
    tag = "".join(c for c in sf_dir if c.isalnum())[-8:]
    lt, ot = f"li_b_{tag}", f"o_b_{tag}"
    for tbl, df, key in ((lt, li, "l_orderkey"), (ot, o, "o_orderkey")):
        if not spark.catalog.tableExists(tbl):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            loc = os.path.join(wh.removeprefix("file:"), tbl)
            if os.path.exists(loc):
                import shutil

                shutil.rmtree(loc, ignore_errors=True)
            df.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(tbl)
    lb, ob = spark.table(lt), spark.table(ot)
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), dsum(money("l_quantity"), "sum_qty"))
    )


@register(
    "join_salted",
    oracle="""
    SELECT n.n_name,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)
               AS total
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit skew salting: the fact side's join key is extended with
    a random-free salt (hash-derived, deterministic), the dim side is
    replicated once per salt value, and the join runs on (key, salt) --
    splitting any hot key across SALT partitions. Results are identical
    to the unsalted join (the oracle runs the plain join)."""
    SALT = 8
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "n_name"
    )
    salted_fact = o.withColumn(
        "salt", (F.xxhash64("o_orderkey") % SALT + SALT) % SALT
    )
    salted_dim = cn.crossJoin(
        F.broadcast(
            spark.range(SALT).select(F.col("id").cast("bigint").alias("salt"))
        )
    )
    joined = salted_fact.join(
        salted_dim,
        (salted_fact.o_custkey == salted_dim.c_custkey)
        & (salted_fact.salt == salted_dim.salt),
    )
    return joined.groupBy("n_name").agg(
        F.count("*").alias("n_orders"), dsum(money("o_totalprice"), "total")
    )


@register(
    "sink_partitioned",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned write + partition-pruned read: the fact table lands
    partitioned by l_returnflag; the subsequent scan filters one
    partition value, so only that directory is listed/read
    (PartitionFilters in the plan). Partition column values survive the
    round-trip as directory keys."""
    # a new dir per call (like every other sink query): a fixed shared
    # path lets two concurrent sessions race overwrite-vs-read.
    out = os.path.join(scratch_dir("part_sink_"), "t")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_quantity", "l_returnflag"
    )
    li.write.partitionBy("l_returnflag").mode("overwrite").parquet(out)
    back = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    return back.groupBy("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


@register(
    "sink_formats",
    oracle="""
    SELECT 'parquet' AS format, COUNT(*) AS n_rows FROM region
    UNION ALL SELECT 'json', COUNT(*) FROM region
    UNION ALL SELECT 'csv', COUNT(*) FROM region
    """,
)
def sink_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format sink/source round-trip (parquet, json, csv with
    explicit schema on re-read): one summary row per format; each count
    must equal the source row count (oracle) -- no format drops rows.
    The result is a UNION of per-format aggregate plans over the
    re-read files (one distributed DataFrame, no driver-side counts;
    only the writes are eager, as any sink is)."""
    src = load(spark, sf_dir, "region")
    base = scratch_dir("fmt_")
    out = None
    for fmt in ("parquet", "json", "csv"):
        path = os.path.join(base, fmt)
        w = src.write.mode("overwrite").format(fmt)
        if fmt == "csv":
            w = w.option("header", "true")
        w.save(path)
        r = spark.read.format(fmt)
        if fmt == "csv":
            r = r.option("header", "true").schema("r_regionkey INT, r_name STRING")
        elif fmt == "json":
            r = r.schema("r_regionkey INT, r_name STRING")
        branch = r.load(path).agg(F.count("*").alias("n_rows")).select(
            F.lit(fmt).alias("format"), "n_rows"
        )
        out = branch if out is None else out.unionByName(branch)
    return out


@register(
    "sink_compaction",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(('0x' || substr(md5(
             CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|'
             || CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
           ), 1, 8))::BIGINT) AS BIGINT) AS checksum,
           -- file counts are the CONTRACT under test, not derivable
           -- from the table: round-robin repartition(n) over non-empty
           -- input must yield exactly n parquet files, before and
           -- after compaction (64 fragmented -> 4 compacted).
           CAST(64 AS INT) AS files_before,
           CAST(4 AS INT) AS files_after
    FROM orders
    """,
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: rewrite a fragmented dataset (64 shards)
    into size-targeted files (4), proving no row was lost or mutated.
    THE table-maintenance job at 100 TB -- streaming ingest and
    fine-grained partitioning leave millions of KB-sized files whose
    per-file open/footer overhead dominates scans; periodic compaction
    restores maxPartitionBytes-sized scan units. In production the
    target count is ceil(input_bytes / target_file_size) from a
    metadata-only listing (or spark.sql.files.maxRecordsPerFile);
    pinned here so the file-count contract is assertable.

    The audit is fully distributed: row checksum is the same
    order-independent md5-sum primitive as table_checksum, and file
    counts come from COUNT(DISTINCT _metadata.file_path) on each
    dataset -- the hidden metadata column keeps the check inside the
    scan instead of a driver-side directory listing."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    d = scratch_dir("compact_")
    frag_path = os.path.join(d, "fragmented")
    comp_path = os.path.join(d, "compacted")
    o.repartition(64).write.mode("overwrite").parquet(frag_path)
    frag = spark.read.parquet(frag_path)
    frag.repartition(4).write.mode("overwrite").parquet(comp_path)
    comp = spark.read.parquet(comp_path)

    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
    )
    rowhash = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("bigint")
    audit = comp.agg(
        F.count("*").alias("n_rows"),
        F.sum(rowhash).cast("bigint").alias("checksum"),
    )
    files_before = frag.select(F.col("_metadata.file_path").alias("fp")).agg(
        F.count_distinct("fp").cast("int").alias("files_before")
    )
    files_after = comp.select(F.col("_metadata.file_path").alias("fp")).agg(
        F.count_distinct("fp").cast("int").alias("files_after")
    )
    return audit.crossJoin(files_before).crossJoin(files_after)


# Bloom filter geometry: 4096 bits as 128 x 32-bit words (32-bit masks
# keep every shift below the int64 sign bit in both engines), 4 probes
# per key via double hashing p_i = (h1 + i*h2) mod 4096.
_BLOOM_BITS = 4096
_BLOOM_WORD = 32
_BLOOM_K = 4


def _h32(col, salt: str):
    """Portable 32-bit hash (md5 prefix), identical in Spark and DuckDB."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")


def _bloom_oracle() -> str:
    probes = ", ".join(f"({i})" for i in range(_BLOOM_K))
    return f"""
    WITH keys AS (
      SELECT DISTINCT c_custkey AS k FROM customer
      WHERE c_mktsegment = 'BUILDING'),
    kh AS (
      SELECT k,
        ('0x' || substr(md5('b1' || CAST(k AS VARCHAR)), 1, 8))::BIGINT AS h1,
        ('0x' || substr(md5('b2' || CAST(k AS VARCHAR)), 1, 8))::BIGINT AS h2
      FROM keys),
    probes(i) AS (VALUES {probes}),
    kp AS (
      SELECT ((h1 + i * h2) % {_BLOOM_BITS} + {_BLOOM_BITS}) % {_BLOOM_BITS} AS p
      FROM kh CROSS JOIN probes),
    words AS (
      SELECT p // {_BLOOM_WORD} AS w,
             bit_or(1::BIGINT << (p % {_BLOOM_WORD})) AS bits
      FROM kp GROUP BY 1),
    ph AS (
      SELECT o_orderkey, o_custkey,
        ('0x' || substr(md5('b1' || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT AS h1,
        ('0x' || substr(md5('b2' || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT AS h2
      FROM orders),
    pp AS (
      SELECT o_orderkey, o_custkey,
             ((h1 + i * h2) % {_BLOOM_BITS} + {_BLOOM_BITS}) % {_BLOOM_BITS} AS p
      FROM ph CROSS JOIN probes),
    hit AS (
      SELECT pp.o_orderkey, pp.o_custkey,
             CASE WHEN w.bits IS NOT NULL
                  AND (w.bits & (1::BIGINT << (pp.p % {_BLOOM_WORD}))) <> 0
                  THEN 1 ELSE 0 END AS bit_set
      FROM pp LEFT JOIN words w ON w.w = pp.p // {_BLOOM_WORD}),
    verdict AS (
      SELECT o_orderkey, o_custkey,
             CAST(min(bit_set) AS BOOLEAN) AS bloom_pass
      FROM hit GROUP BY 1, 2)
    SELECT COUNT(*) AS n_probe,
           COUNT(*) FILTER (bloom_pass) AS n_pass,
           COUNT(*) FILTER (o_custkey IN (SELECT k FROM keys)) AS n_true,
           COUNT(*) FILTER (bloom_pass AND o_custkey NOT IN
                            (SELECT k FROM keys)) AS n_false_pos,
           (SELECT CAST(SUM(bit_count(bits)) AS BIGINT) FROM words)
               AS bits_set
    FROM verdict
    """


@register("agg_bloom_prefilter", oracle=_bloom_oracle())
def agg_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom-filter semi-join reduction, with its accuracy
    audited: build a 4096-bit / 4-hash Bloom over the BUILDING-segment
    customer keys (one bit_or aggregation into 128 words -- a
    dimension-sized table), probe every order through it, and emit the
    audit row (probes, bloom passes, exact matches, false positives,
    bits set). This is the runtime-filter pattern that cuts shuffle
    volume before a big join at 100 TB: the probe side drops
    non-matching rows at the SCAN with a broadcast of 128 words instead
    of shuffling the full fact to discover the miss (Spark's own
    spark.sql.optimizer.runtime.bloomFilter does this invisibly; this
    operator materializes it where the application controls the filter,
    e.g. cross-table prefilters AQE cannot see). All hashing is
    md5-derived and the verdict is exact integers, so the false-
    positive count is oracle-checkable, not asserted from theory."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    keys = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )
    probes = spark.range(_BLOOM_K).select(F.col("id").alias("i"))
    pos = (F.col("h1") + F.col("i") * F.col("h2")) % _BLOOM_BITS
    pos = (pos + _BLOOM_BITS) % _BLOOM_BITS
    kp = (
        keys.withColumns(
            {"h1": _h32(F.col("k"), "b1"), "h2": _h32(F.col("k"), "b2")}
        )
        .crossJoin(F.broadcast(probes))
        .select(pos.alias("p"))
    )
    mask = F.expr(f"shiftleft(cast(1 as bigint), cast(p % {_BLOOM_WORD} as int))")
    words = kp.groupBy(
        (F.col("p") / _BLOOM_WORD).cast("bigint").alias("w")
    ).agg(F.bit_or(mask).alias("bits"))
    # Probe per DISTINCT key, not per fact row: the md5 double-hash and
    # the 4-way position explode run over the key dimension (|customers|)
    # and the per-key verdict broadcasts back onto the fact -- the same
    # rewrite that makes runtime filters cheap on a 100 TB fact, where
    # hashing every row would itself be a full-fact map pass.
    # The per-key groupBy carries each key's FACT ROW COUNT, so the
    # audit's fact-level tallies are cnt-weighted sums over the key
    # relation — the old shape scanned orders a second time just to
    # re-join the per-key verdicts back onto the rows it had already
    # aggregated away. Same exchange as the old distinct, one fewer
    # fact scan.
    pk = (
        o.select(F.col("o_custkey").alias("pkey"))
        .groupBy("pkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumns(
            {"h1": _h32(F.col("pkey"), "b1"), "h2": _h32(F.col("pkey"), "b2")}
        )
        .crossJoin(F.broadcast(probes))
        .select("pkey", "cnt", pos.alias("p"))
    )
    hit = pk.join(
        F.broadcast(words),
        (F.col("p") / _BLOOM_WORD).cast("bigint") == F.col("w"),
        "left",
    ).select(
        "pkey",
        "cnt",
        F.when(
            F.col("bits").isNotNull() & (F.col("bits").bitwiseAND(mask) != 0),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("bit_set"),
    )
    verdict = hit.groupBy("pkey").agg(
        (F.min("bit_set") == 1).alias("bloom_pass"),
        F.max("cnt").alias("cnt"),
    )
    truth = verdict.join(
        F.broadcast(keys.withColumn("is_true", F.lit(1))),
        F.col("pkey") == F.col("k"),
        "left",
    ).select("pkey", "bloom_pass", "is_true", "cnt")
    bits_total = words.agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("bits_set")
    )
    audit = truth.agg(
        F.sum("cnt").cast("bigint").alias("n_probe"),
        F.sum(F.when(F.col("bloom_pass"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_pass"),
        F.sum(
            F.when(F.col("is_true").isNotNull(), F.col("cnt")).otherwise(0)
        )
        .cast("bigint")
        .alias("n_true"),
        F.sum(
            F.when(
                F.col("bloom_pass") & F.col("is_true").isNull(), F.col("cnt")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_false_pos"),
    )
    return audit.crossJoin(F.broadcast(bits_total))


# Z-order geometry: 16 low bits of each key interleaved into a 32-bit
# Morton code; audit buckets of 2^16 code cells each (fixture key
# ranges put the code well under 2^31, so this yields tens of buckets
# at sf0.01 and ~1k at sf0.1 -- file-count-sized either way).
_Z_BITS = 16
_Z_BUCKET_SHIFT = 16


def _z_value_expr(p: str, s: str, div: str) -> str:
    """Bit-interleave rendered as pure integer arithmetic ((x div 2^i)
    % 2 scaled back into place), identical text for Spark SQL (div) and
    DuckDB (//) so both engines evaluate the same formula."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({p} {div} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({s} {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def _zorder_oracle() -> str:
    z = _z_value_expr(f"(l_partkey % {1 << _Z_BITS})", f"(l_suppkey % {1 << _Z_BITS})", "//")
    return f"""
    WITH z AS (
      SELECT l_partkey, l_suppkey,
             ({z}) // {1 << _Z_BUCKET_SHIFT} AS zbucket
      FROM lineitem)
    SELECT zbucket,
           COUNT(*) AS n,
           MIN(l_partkey) AS p_min, MAX(l_partkey) AS p_max,
           MIN(l_suppkey) AS s_min, MAX(l_suppkey) AS s_max,
           MAX(l_partkey) - MIN(l_partkey) AS p_span,
           MAX(l_suppkey) - MIN(l_suppkey) AS s_span
    FROM z GROUP BY zbucket
    """


@register("zorder_cluster_audit", oracle=_zorder_oracle())
def zorder_cluster_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit: interleave the low 16 bits of
    (l_partkey, l_suppkey) into a space-filling-curve code, bucket rows
    by its high bits, and report per-bucket min/max SPANS of both keys.
    This is the evidence behind multi-dimensional data skipping: under
    a Z-order layout every bucket (= file at write time) covers a
    narrow range in BOTH dimensions, so a reader filtering on EITHER
    key prunes most buckets from footer stats alone -- a lexicographic
    sort gives narrow spans on the leading key only. At 100 TB the
    write path is `repartitionByRange(zvalue).sortWithinPartitions`
    feeding the partitioned sink (sink_partitioned/sink_compaction show
    that machinery); this operator is the layout-quality audit that
    runs after such a write. The Morton code is rendered as pure
    integer arithmetic -- one codegen'd expression, no UDF -- and the
    audit is a single groupBy."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    z_sql = _z_value_expr(
        f"(l_partkey % {1 << _Z_BITS})",
        f"(l_suppkey % {1 << _Z_BITS})",
        "div",
    )
    return (
        li.withColumn(
            "zbucket", F.expr(f"({z_sql}) div {1 << _Z_BUCKET_SHIFT}")
        )
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_partkey").alias("p_min"),
            F.max("l_partkey").alias("p_max"),
            F.min("l_suppkey").alias("s_min"),
            F.max("l_suppkey").alias("s_max"),
            (F.max("l_partkey") - F.min("l_partkey")).alias("p_span"),
            (F.max("l_suppkey") - F.min("l_suppkey")).alias("s_span"),
        )
    )


@register(
    "join_dpp",
    oracle="""
    SELECT l.l_returnflag, l.l_linestatus, COUNT(*) AS n
    FROM lineitem l
    JOIN (VALUES ('R', 'returned'), ('A', 'accepted'), ('N', 'neither'))
         d(flag, label)
      ON d.flag = l.l_returnflag
    WHERE d.label = 'returned'
    GROUP BY 1, 2
    """,
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact lands partitioned by
    l_returnflag; the query joins it to a dimension whose FILTER (not
    the fact's) selects the flag. Static pruning cannot help -- the
    fact predicate only exists after the dim filter runs -- so Spark
    injects a dynamicpruningexpression on the fact scan that reuses
    the broadcast dim to prune partitions AT RUNTIME
    (plan-asserted in tests/test_scale_plans.py). At 100 TB this is
    the difference between scanning one date/tenant partition and
    scanning the table whenever the predicate arrives through a join,
    which is how real star-schema filters arrive. The partitioned
    layout is setup written once per session; the measured query is the
    join."""

    def build() -> str:
        out = os.path.join(scratch_dir("dpp_"), "t")
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linestatus", "l_returnflag"
        )
        li.write.partitionBy("l_returnflag").mode("overwrite").parquet(out)
        return out

    fact = spark.read.parquet(memo(spark, ("join_dpp", sf_dir), build))
    dim = spark.createDataFrame(
        [("R", "returned"), ("A", "accepted"), ("N", "neither")],
        "flag string, label string",
    ).filter(F.col("label") == "returned")
    return (
        fact.join(F.broadcast(dim), fact.l_returnflag == dim.flag)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "sink_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write -> re-read -> aggregate: the columnar-format coverage
    beyond parquet (ORC is Spark-native and common in Hive-lineage
    lakes). The oracle aggregates the ORIGINAL source, so the check
    proves byte-faithful roundtrip through the ORC writer/reader --
    any loss, duplication, or type coercion in the sink breaks the
    exact integer-cents totals. Scale: format choice changes the
    scan/sink codec only; the plan (pushdown, pruning, partial
    aggregation) is identical to the parquet path."""
    out = os.path.join(scratch_dir("orc_"), "t")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    o.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "sink_backfill_dynamic",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def sink_backfill_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent partition backfill: the production pattern for fixing
    one day/partition of a 100 TB table without touching the rest.
    The initial load deliberately corrupts the 'P' partition (prices
    zeroed); the backfill rewrites ONLY that partition using DYNAMIC
    partition overwrite (overwrite replaces exactly the partitions
    present in the incoming batch, not the whole table). The read-back
    aggregate must equal the clean source (oracle) -- which proves both
    that the backfill fixed 'P' AND that the other partitions were not
    clobbered (static overwrite mode would have deleted them). The
    conf is scoped and restored."""
    out = os.path.join(scratch_dir("backfill_"), "t")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    is_p = F.col("o_orderstatus") == "P"
    corrupted = o.withColumn(
        "o_totalprice", F.when(is_p, F.lit(0.0)).otherwise(F.col("o_totalprice"))
    )
    corrupted.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    with conf_scope(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        o.filter(is_p).write.mode("overwrite").partitionBy(
            "o_orderstatus"
        ).parquet(out)
    back = spark.read.parquet(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "sink_text_roundtrip",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(MIN(length(text)) AS BIGINT) AS min_len,
           CAST(MAX(length(text)) AS BIGINT) AS max_len
    FROM documents
    """,
)
def sink_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text sink/source roundtrip: the corpus written as raw
    line-per-document text (the interchange format half the text-
    pipeline world still ships) and read back through the text source.
    The oracle aggregates the ORIGINAL documents, so any line
    splitting/merging or encoding mangling in the roundtrip breaks the
    exact line count and character totals. Documents are single-line
    in the fixture, which is the contract this format requires --
    that constraint (and escaping newlines before writing) is the real
    operational caveat this query documents."""
    out = os.path.join(scratch_dir("text_"), "t")
    d = load(spark, sf_dir, "documents").select("text")
    d.write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.length("value")).cast("bigint").alias("total_chars"),
        F.min(F.length("value")).cast("bigint").alias("min_len"),
        F.max(F.length("value")).cast("bigint").alias("max_len"),
    )


@register(
    "join_bloom_runtime",
    oracle="""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """,
)
def join_bloom_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join with a SELECTIVE build side — the shape
    Spark's runtime row-level BLOOM FILTER optimization exists for:
    the optimizer builds a bloom filter over the filtered orders keys
    and pushes a MightContain probe into the lineitem scan, so the
    shuffle carries only rows that can possibly join (~single-digit %
    here) instead of the whole fact table. At fixture scale the
    injection thresholds (creation side <= 10 MB, application side >=
    10 GB scanned) correctly judge the bloom unnecessary — AQE
    broadcasts instead — so the REGISTERED query asserts semantics;
    tests/test_scale_plans.py::test_bloom_filter_injects_on_selective_join
    lowers the thresholds to cluster-scale proportions and asserts the
    BloomFilterMightContain probe appears in this exact plan. At
    100 TB the defaults fire on their own; nothing in the query
    changes."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


@register(
    "scan_fixed_width",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (mainframe/COBOL copybook) text format, write AND
    parse: the nation dim rendered as 31-byte fixed-offset records
    (key 4 | name 25 | region 2), written through the
    text sink, read back as raw lines, and parsed by SUBSTRING offsets
    into typed columns — the connector Spark lacks natively and every
    bank/telecom ingest still needs. The oracle recomputes the
    render+parse identity over the source relation, so an off-by-one
    offset, a lost trailing-space rtrim, or a cast slip hash-fails.

    Scale shape: render is one codegen map pass; parse is
    substring+cast in whole-stage codegen over the text scan —
    per-line work, embarrassingly parallel, no shuffle until a
    consumer aggregates. At 100 TB this is exactly how a fixed-width
    feed lands: text source, offset projection at the scan, types at
    the boundary (the scan_registry_json declared-cast discipline)."""
    n = load(spark, sf_dir, "nation")
    line = F.concat(
        F.lpad(F.col("n_nationkey").cast("string"), 4, "0"),
        F.rpad(F.col("n_name"), 25, " "),
        F.lpad(F.col("n_regionkey").cast("string"), 2, "0"),
    )

    # repeated sweep/bench calls reuse one rendered directory
    def build() -> str:
        out = os.path.join(scratch_dir("fixedwidth_"), "nation_fw")
        n.select(line.alias("value")).coalesce(1).write.mode(
            "overwrite"
        ).text(out)
        return out

    out = memo(spark, ("fixedwidth", os.path.abspath(sf_dir)), build)
    raw = spark.read.text(out)
    return raw.select(
        F.substring("value", 1, 4).cast("int").alias("n_nationkey"),
        F.rtrim(F.substring("value", 5, 25)).alias("n_name"),
        F.substring("value", 30, 2).cast("int").alias("n_regionkey"),
    )
