"""Remaining scalar/plan surface: map higher-order functions, nested
arrays, deterministic surrogate keys, ANSI-safe try_* functions, and an
explicit cached-intermediate reuse plan."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_extractors_api_spark.catalog import load
from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.store import memo


@register(
    "fn_map_hof",
    oracle="""
    WITH m AS (
      SELECT event_id,
             map(['k'], [CAST(json_extract_string(props, '$.k') AS INTEGER)]) AS pm
      FROM events)
    SELECT event_id,
           array_to_string(list_transform(map_keys(pm), k -> upper(k)), ',') AS ukeys,
           CAST(list_sum(list_transform(map_values(pm), v -> v * 2)) AS BIGINT)
               AS doubled_sum
    FROM m
    """,
)
def fn_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions (transform_keys/transform_values) over
    the parsed props map -- the typed form of the reference's dict
    manipulation."""
    ev = load(spark, sf_dir, "events")
    pm = F.from_json("props", "map<string,int>")
    upped = F.transform_keys(pm, lambda k, v: F.upper(k))
    doubled = F.transform_values(pm, lambda k, v: v * 2)
    return ev.select(
        "event_id",
        F.array_join(F.map_keys(upped), ",").alias("ukeys"),
        F.aggregate(
            F.map_values(doubled), F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("doubled_sum"),
    )


@register(
    "fn_array_nested",
    oracle="""
    WITH t AS (SELECT doc_id, str_split(text, ' ') AS tk FROM documents)
    SELECT doc_id,
           CAST(len(flatten([tk[1:3], tk[-2:]])) AS INT) AS n_flat,
           array_to_string(flatten([tk[1:1], tk[-1:]]), '|') AS ends
    FROM t
    """,
)
def fn_array_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-array construction + flatten (array<array<string>> ->
    array<string>): the shape of per-file multi-channel outputs."""
    d = load(spark, sf_dir, "documents")
    tk = F.split("text", " ")
    first3 = F.slice(tk, 1, 3)
    last2 = F.slice(tk, -2, 2)
    first1 = F.slice(tk, 1, 1)
    last1 = F.slice(tk, -1, 1)
    return d.select(
        "doc_id",
        F.size(F.flatten(F.array(first3, last2))).cast("int").alias("n_flat"),
        F.array_join(F.flatten(F.array(first1, last1)), "|").alias("ends"),
    )


@register(
    "fn_surrogate_key",
    oracle="""
    SELECT ROW_NUMBER() OVER (ORDER BY s_suppkey) AS sk,
           s_suppkey, s_name
    FROM supplier
    """,
)
def fn_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dense surrogate keys via a total order
    (monotonically_increasing_id is partition-dependent and therefore
    unreproducible -- this is the auditable alternative). The dense id
    is the two-phase ``_global_rank`` (range repartition + parallel
    per-partition windows + a partition-count-sized offset table), not
    ``row_number() OVER (ORDER BY ...)``, whose single-partition sort
    is the classic scale-killer; this demonstrated plan assigns dense
    ids to a relation of any size. Prefer keyed hashes when density is
    not required (no sort at all)."""
    from metadata_extractors_api_spark.operators.quality import _global_rank

    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return _global_rank(s, "s_suppkey", "s_suppkey").select(
        F.col("i").cast("int").alias("sk"), "s_suppkey", "s_name"
    )


@register(
    "fn_try_safe",
    oracle="""
    SELECT p_partkey,
           TRY_CAST(p_brand AS INTEGER) AS brand_int,
           TRY_CAST(CAST(p_size AS VARCHAR) AS INTEGER) AS size_rt,
           p_retailprice / nullif(p_size - p_size, 0) AS div0,
           p_retailprice / nullif(CAST(p_size AS DOUBLE), 0) AS per_size
    FROM part
    """,
)
def fn_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe try_* functions: failed casts and zero divisions yield
    NULL instead of failing the job -- the posture a 100 TB pipeline
    needs (one malformed row must not kill a 10-hour job). Replaces the
    reference's raise-on-bad-shape behavior (§1.3) with typed NULLs."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.try_to_number("p_brand", F.lit("999")).cast("int").alias("brand_int"),
        F.col("p_size").cast("string").try_cast("int").alias("size_rt"),
        F.try_divide("p_retailprice", F.col("p_size") - F.col("p_size")).alias("div0"),
        F.try_divide("p_retailprice", F.col("p_size").cast("double")).alias(
            "per_size"
        ),
    )


@register(
    "cache_reuse",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n FROM lineitem WHERE l_quantity > 10
    GROUP BY l_returnflag
    UNION ALL
    SELECT 'ALL', COUNT(*) FROM lineitem WHERE l_quantity > 10
    """,
)
def cache_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cached-intermediate reuse: one filtered+projected
    intermediate feeds two aggregations; persist() makes the second
    branch read columnar in-memory blocks instead of rescanning parquet.
    Oracle: both branches must equal direct aggregates over the source
    (see also test_cache_reuse_plan for the InMemoryTableScan shape).
    The persisted intermediate is built once per (session, sf_dir):
    repeated invocations reuse ONE cached block set instead of pinning
    a new copy each call."""
    base = memo(
        spark,
        ("cache_reuse", sf_dir),
        lambda: load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 10)
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .persist(),
    )
    by_flag = base.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    overall = base.agg(F.count("*").alias("n")).select(
        F.lit("ALL").alias("l_returnflag"), "n"
    )
    return by_flag.unionByName(overall)


@register(
    "catalog_profile",
    oracle="""
    SELECT 'region' AS tbl, CAST(COUNT(*) AS BIGINT) AS n FROM region
    UNION ALL SELECT 'nation', COUNT(*) FROM nation
    UNION ALL SELECT 'customer', COUNT(*) FROM customer
    UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
    UNION ALL SELECT 'part', COUNT(*) FROM part
    UNION ALL SELECT 'orders', COUNT(*) FROM orders
    UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
    UNION ALL SELECT 'events', COUNT(*) FROM events
    UNION ALL SELECT 'documents', COUNT(*) FROM documents
    UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
    """,
)
def catalog_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-wide census: one row per registered table with its row
    count -- the information_schema / SHOW TABLE EXTENDED surface an
    engine exposes for monitoring and CBO-staleness checks. The result
    is a UNION of per-table count aggregates (each a metadata-cheap
    parquet count at any scale: footers carry row counts, so the scan
    reads no data pages); nothing is collected driver-side."""
    from metadata_extractors_api_spark.catalog import TABLES

    out = None
    for t in TABLES:
        branch = (
            load(spark, sf_dir, t)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(t).alias("tbl"), "n")
        )
        out = branch if out is None else out.unionByName(branch)
    return out


@register(
    "sql_parameterized",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    WHERE o_totalprice > 150000.0
      AND o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL execution (``spark.sql(..., args=...)``):
    named-parameter binding is the injection-safe client surface every
    dashboard/API layer calls through, and the binding path (not
    string splicing) is what this checks — the oracle states the same
    query with the parameters INLINED, so a mis-bound or mis-coerced
    parameter diverges. Catalyst folds bound parameters to literals at
    plan time, so pushdown/pruning behave exactly as with inline
    constants at any scale."""
    load(spark, sf_dir, "orders").createOrReplaceTempView(
        "mdx_orders_param_v"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM mdx_orders_param_v
        WHERE o_totalprice > :min_total
          AND o_orderdate >= CAST(:since AS TIMESTAMP)
        GROUP BY o_orderpriority
        """,
        args={"min_total": 150000.0, "since": "1996-01-01"},
    )


#: fixture order-date years (the business horizon in the TPC-H-ish
#: fixtures) and the five canonical region names.
TRANSPOSE_YEARS = list(range(1992, 1999))
TRANSPOSE_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _transpose_oracle() -> str:
    arms = []
    for y in TRANSPOSE_YEARS:
        cols = ", ".join(
            f"""CAST(SUM(CASE WHEN r.r_name = '{r}'
                 AND year(o.o_orderdate) = {y}
                THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS "{r}" """
            for r in TRANSPOSE_REGIONS
        )
        arms.append(
            f"""    SELECT 'y{y}' AS key, {cols}
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey"""
        )
    return "\n    UNION ALL\n".join(arms)


@register("df_transpose", oracle=_transpose_oracle())
def df_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix transpose of a pivoted rollup (``DataFrame.transpose``):
    the region x year revenue matrix flipped so YEARS are rows and
    REGIONS are columns — the report orientation spreadsheets want,
    produced by the engine instead of client-side reshaping. The
    pipeline is a customer join (AQE-sized; customer is
    SF-proportional, so no forced hint) + broadcast nation/region
    joins (constant-sized) -> one map-side-combinable cents rollup ->
    pivot (explicit value list, so one pass, no value scan)
    -> transpose. Scale: transpose collects COLUMN NAMES (the pivoted
    year labels, bounded), never data; the matrix itself is
    |regions| x |years| — a report, not a fact."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    # customer is SF-proportional -- no broadcast hint (AQE decides);
    # nation/region are constant-sized (25 / 5 rows): hint is safe.
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "r_name",
            F.concat(F.lit("y"), F.year("o_orderdate")).alias("yr"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
                "cents"
            ),
        )
    )
    mat = (
        base.groupBy("r_name")
        .pivot("yr", [f"y{y}" for y in TRANSPOSE_YEARS])
        .sum("cents")
        .na.fill(0)
        .orderBy("r_name")
    )
    return mat.transpose()
