"""Relational operator surface (SURVEY.md §2.B.1-B.7).

Generalizes the reference's point-lookup/join/limit-1 control flow
(marda_extractors_api/__init__.py:96-123, 235-243) into the full
set-oriented relational surface, expressed with the DataFrame API so
Catalyst handles pushdown, pruning, and join-strategy selection.

Exact-arithmetic convention: money/rate doubles are cast to DECIMAL
before aggregation (see registry.py docstring) so results are
bit-identical to the DuckDB oracle irrespective of parallel association
order. The DECIMAL widths are chosen tight (14,2 money / 6,2 rates) so
products stay exact without hitting Spark's precision-loss fallback.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metadata_extractors_api_spark.catalog import load
from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.store import scratch_dir


def money(c: str) -> Column:
    """Exact money value: DECIMAL(14,2) handles magnitudes to 1e12."""
    return F.col(c).cast("decimal(14,2)")


def rate(c: str) -> Column:
    """Exact rate value (discount/tax in [0,1], 2 decimals)."""
    return F.col(c).cast("decimal(6,2)")


def dsum(col: Column, alias: str, scale: int = 2) -> Column:
    """Deterministic SUM of an exact decimal column, emitted as DOUBLE."""
    return F.round(F.sum(col), scale).cast("double").alias(alias)


def davg(col: Column, alias: str) -> Column:
    """Deterministic AVG: exact decimal SUM, IEEE double division."""
    return F.round(F.sum(col).cast("double") / F.count(col), 6).alias(alias)


# ---------------------------------------------------------------------------
# B.1 scans / sources / sinks
# ---------------------------------------------------------------------------


@register(
    "scan_parquet",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan with column pruning: ReadSchema should list only the
    three projected columns (origin: file ingestion, __init__.py:81-89)."""
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "scan_json_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
    FROM events
    """,
)
def scan_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-string parsing (origin: registry JSON ingestion,
    __init__.py:104,123) via from_json with a declared schema."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.from_json("props", "k INT").getField("k").alias("prop_k"),
    )


@register(
    "sink_roundtrip",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(14,2))), 2) AS DOUBLE)
               AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write parquet -> re-read -> aggregate (origin: A14 output-file sink
    check, __init__.py:281-286). Oracle: the round-trip must equal a
    direct aggregate over the source -- the sink lost/duplicated
    nothing."""
    out = scratch_dir("sink_")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    li.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum(money("l_quantity"), "sum_qty"),
    )


# ---------------------------------------------------------------------------
# B.2 projection / filter
# ---------------------------------------------------------------------------


@register(
    "project_rename_cast",
    oracle="""
    SELECT o_orderkey AS okey,
           CAST(o_custkey AS INTEGER) AS ckey_i,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS total_floor,
           strftime(o_orderdate, '%Y-%m-%d') AS odate
    FROM orders
    """,
)
def project_rename_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select/alias/cast (origin: dict-field access in the reference).

    Date emitted as an ISO string: pandas bridges (both engines' and the
    driver's) have no stable date dtype, so strings keep the compare
    representation-independent."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").cast("int").alias("ckey_i"),
        F.floor("o_totalprice").cast("bigint").alias("total_floor"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"),
    )


@register(
    "filter_pred",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'N')
      AND l_discount > 0.05
      AND l_shipdate IS NOT NULL
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates, IN, BETWEEN, IS NULL (origin: A3 key filter
    __init__.py:96-105, A6 support filter :235-243). Pushed to the scan."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "N")
        & (F.col("l_discount") > 0.05)
        & F.col("l_shipdate").isNotNull()
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


@register(
    "filter_like_regex",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE lang = 'en'
      AND text LIKE '%spark%'
      AND regexp_matches(source, '^src1[0-9]$')
    """,
)
def filter_like_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / RLIKE predicates (origin: the URL regexp ^http[s]://,
    __init__.py:81)."""
    d = load(spark, sf_dir, "documents")
    return d.filter(
        (F.col("lang") == "en")
        & F.col("text").like("%spark%")
        & F.col("source").rlike("^src1[0-9]$")
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# B.3 joins
# ---------------------------------------------------------------------------


@register(
    "join_broadcast",
    oracle="""
    SELECT p.p_brand,
           COUNT(*) AS n_items,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(6,2)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact x dim broadcast hash join (origin: A5 registry point lookup,
    __init__.py:116-123). part is a dimension -> broadcast() keeps the
    join shuffle-free at any fact-side scale."""
    li = load(spark, sf_dir, "lineitem", parallelize=True)
    p = load(spark, sf_dir, "part")
    rev = money("l_extendedprice") * (F.lit(1) - rate("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_items"), dsum(rev, "revenue"))
    )


@register(
    "join_shuffle",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))), 2)
                AS DOUBLE) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle equi-join: both sides large at scale; AQE picks SMJ/SHJ
    and splits skewed partitions (origin: A5 at scale)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), dsum(money("o_totalprice"), "total"))
    )


@register(
    "join_multiway",
    oracle="""
    SELECT r.r_name,
           COUNT(*) AS n_items,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(6,2)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-table star join (TPC-H Q5 shape). Dims broadcast; the single
    fact->orders shuffle is the only exchange that grows with data."""
    li = load(spark, sf_dir, "lineitem", parallelize=True)
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = money("l_extendedprice") * (F.lit(1) - rate("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_items"), dsum(rev, "revenue"))
    )


@register(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (origin: A6 supported-filetype semi-join filter,
    __init__.py:235-243)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (origin: the 'no extractor found' error path,
    __init__.py:106-109)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_outer",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(ROUND(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))), 0), 2)
                AS DOUBLE) AS total
    FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no orders (origin:
    missing registry entries)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum(money("o_totalprice")), F.lit(0)), 2)
            .cast("double")
            .alias("total"),
        )
    )


@register(
    "join_theta_range",
    oracle="""
    SELECT s.s_suppkey, COUNT(*) AS n_richer
    FROM supplier s JOIN customer c
      ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
    GROUP BY s.s_suppkey
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join: equi prefix on nationkey keeps it a hash
    join with a residual range predicate rather than a cartesian BNLJ."""
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    return (
        s.join(
            F.broadcast(c),
            (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal),
        )
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_richer"))
    )


@register(
    "join_asof",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the most recent click by the same
    user at-or-before its timestamp (SURVEY §2.B.3; verified against
    DuckDB's native ASOF JOIN).

    Scale-first construction: UNION the two sides, single sort within
    user partitions, last(click, ignorenulls) over a running frame.
    One shuffle on user_id, no pairwise blowup -- O(n log n) vs the
    naive O(purchases x clicks) join+rank."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"),
        F.lit(1).alias("is_click"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"),
    )
    merged = purchases.withColumns(
        {"click_id": F.lit(None).cast("long"), "is_click": F.lit(0)}
    ).unionByName(
        clicks.withColumn("purchase_id", F.lit(None).cast("long"))
    )
    # clicks sort before purchases at equal ts => ties are included (>=)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.desc("is_click"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        merged.withColumn("last_click", F.last("click_id", ignorenulls=True).over(w))
        .filter(F.col("is_click") == 0)
        .select(
            F.col("purchase_id").alias("event_id"),
            "user_id",
            F.col("last_click").alias("click_id"),
        )
    )


# ---------------------------------------------------------------------------
# B.4 aggregations
# ---------------------------------------------------------------------------


@register(
    "agg_global",
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))), 2) AS DOUBLE)
               AS sum_price,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE)
                 / COUNT(l_quantity), 6) AS avg_qty
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global aggregate without grouping (origin: output summary stats)."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n"),
        dsum(money("l_extendedprice"), "sum_price"),
        F.min("l_quantity").cast("double").alias("min_qty"),
        F.max("l_quantity").cast("double").alias("max_qty"),
        davg(money("l_quantity"), "avg_qty"),
    )


def cents(c: str) -> Column:
    """Exact integer cents of a 2-decimal money/rate double: x*100 is a
    deterministic IEEE product whose rounding both engines agree on, and
    int64 sums are order-independent. Safe bound: a per-group sum
    overflows only past ~9e11 rows of 1e5-magnitude money (an order of
    magnitude above 100 TB lineitem per-group volumes). PRODUCTS of
    cents do NOT get this headroom -- those stay DECIMAL (see
    agg_groupby)."""
    return F.round(F.col(c) * 100, 0).cast("bigint")


@register(
    "agg_groupby",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           ROUND(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) / 100.0, 2)
               AS sum_qty,
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) / 100.0, 2)
               AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                          * (1 - CAST(l_discount AS DECIMAL(6,2)))), 2) AS DOUBLE)
               AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                          * (1 - CAST(l_discount AS DECIMAL(6,2)))
                          * (1 + CAST(l_tax AS DECIMAL(6,2)))), 2) AS DOUBLE)
               AS sum_charge,
           ROUND(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) / 100.0
                 / COUNT(l_quantity), 6) AS avg_qty,
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) / 100.0
                 / COUNT(l_extendedprice), 6) AS avg_price,
           ROUND(SUM(CAST(ROUND(l_discount * 100, 0) AS BIGINT)) / 100.0
                 / COUNT(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + pushed filter + partial/final hash agg
    (flagship; origin: per-filetype extraction stats generalizing A4).

    Hybrid exact arithmetic: plain money sums run as int64 cents (~3x
    cheaper than decimal, order-independent, overflow headroom well past
    100 TB per-group volumes); the two PRODUCT sums stay DECIMAL because
    cents-products would overflow int64 around 1e10 rows per group.
    Both forms are bit-identical to the oracle in any partition order."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = money("l_extendedprice") * (F.lit(1) - rate("l_discount"))
    charge = disc_price * (F.lit(1) + rate("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(cents("l_quantity")) / 100.0, 2).alias("sum_qty"),
            F.round(F.sum(cents("l_extendedprice")) / 100.0, 2).alias(
                "sum_base_price"
            ),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            F.round(
                F.sum(cents("l_quantity")) / 100.0 / F.count("l_quantity"), 6
            ).alias("avg_qty"),
            F.round(
                F.sum(cents("l_extendedprice")) / 100.0 / F.count("l_extendedprice"),
                6,
            ).alias("avg_price"),
            F.round(
                F.sum(cents("l_discount")) / 100.0 / F.count("l_discount"), 6
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expands to a two-phase agg plan)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           TRUE AS within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct: the 100 TB-scale form of
    agg_distinct (single pass, fixed memory per group).

    Sketch estimates are engine-specific, so the query asserts the
    sketch's *accuracy contract* instead of its raw value: it emits the
    exact distinct count plus a Spark-computed ``within_tol`` boolean
    (|approx - exact| <= 5% of exact, i.e. 5x the configured rsd=0.01),
    and the oracle emits the same exact count plus literal TRUE. A
    drifting sketch flips the boolean and fails the hash compare."""
    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.approx_count_distinct("l_partkey", 0.01).alias("_approx"),
    )
    return agg.select(
        "l_returnflag",
        "n_parts",
        (
            F.abs(F.col("_approx") - F.col("n_parts"))
            <= F.col("n_parts") * F.lit(0.05)
        ).alias("within_tol"),
    )


@register(
    "agg_rollup_cube",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(14,2))), 2) AS DOUBLE)
               AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets + grouping_id (verified: DuckDB GROUPING bit
    order matches Spark's grouping_id: first column = MSB)."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count("*").alias("n"),
        dsum(money("l_quantity"), "sum_qty"),
    )


@register(
    "agg_collect",
    oracle="""
    SELECT n.n_name,
           array_to_string(list_sort(list_distinct(list(c.c_mktsegment))), ',')
               AS segments
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set stabilized by sort_array (origin: the
    registered_extractors arrays, A4). Emitted as a joined string so the
    oracle compare is representation-independent."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias(
                "segments"
            )
        )
    )


# ---------------------------------------------------------------------------
# B.5 window functions
# ---------------------------------------------------------------------------


@register(
    "win_rank_topk",
    oracle="""
    SELECT o_orderpriority, o_orderkey, rn FROM (
      SELECT o_orderpriority, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
)
def win_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number (origin: A4 first-extractor-wins,
    __init__.py:110-115). Tie-broken by key for determinism."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "rn")
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT event_id,
           value - LAG(value) OVER w AS delta_prev,
           LEAD(event_id) OVER w AS next_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics (origin: event deltas over instrument logs).
    Single-pair IEEE subtraction is deterministic -> no rounding needed."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta_prev"),
        F.lead("event_id").over(w).alias("next_event"),
    )


@register(
    "win_running",
    oracle="""
    SELECT o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                      OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 2) AS DOUBLE) AS running_total
    FROM orders
    """,
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum with an explicit ROWS frame (origin: cumulative charge
    curves in the .mpr electrochemistry domain). DECIMAL keeps Spark's
    sequential accumulation and DuckDB's segment-tree evaluation equal."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_orderkey",
        F.round(F.sum(money("o_totalprice")).over(w), 2)
        .cast("double")
        .alias("running_total"),
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT event_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(14,2))) OVER w AS DOUBLE)
                 / COUNT(value) OVER w, 6) AS moving_avg
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame moving average over event-time seconds (origin:
    smoothing instrument time-series). avg = exact-decimal sum / count so
    both engines do one IEEE division."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        F.round(
            F.sum(money("value")).over(w).cast("double") / F.count("value").over(w), 6
        ).alias("moving_avg"),
    )


# ---------------------------------------------------------------------------
# B.6 sort / limit
# ---------------------------------------------------------------------------


@register(
    "sort_multi",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal
    FROM customer
    ORDER BY c_mktsegment ASC NULLS FIRST, c_acctbal DESC, c_custkey
    """,
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key global sort with explicit null placement (range-
    partitioned exchange at scale)."""
    c = load(spark, sf_dir, "customer")
    return c.select("c_custkey", "c_mktsegment", "c_acctbal").orderBy(
        F.col("c_mktsegment").asc_nulls_first(),
        F.col("c_acctbal").desc(),
        F.col("c_custkey"),
    )


@register(
    "limit_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k -> TakeOrderedAndProject (per-partition heap + driver
    merge; no global sort). Origin: A4's limit-1 selection."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# B.7 set operations
# ---------------------------------------------------------------------------


@register(
    "set_union",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of nation keys from two tables (origin: merging
    registry snapshots)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@register(
    "set_intersect_except",
    oracle="""
    SELECT 'intersect' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'except' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT SELECT s_nationkey FROM supplier)
    """,
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT and EXCEPT, tagged and unioned into one result (origin:
    diffing extractor sets between registry snapshots)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    inter = c.intersect(s).select(F.lit("intersect").alias("op"), "nationkey")
    exc = c.subtract(s).select(F.lit("except").alias("op"), "nationkey")
    return inter.unionByName(exc)


@register(
    "sort_paginate",
    oracle="""
    SELECT c_custkey, c_name, CAST(round(c_acctbal * 100) AS BIGINT)
               AS bal_cents
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 20 OFFSET 40
    """,
)
def sort_paginate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-stable pagination: page 3 of the balance leaderboard via
    ORDER BY ... LIMIT/OFFSET (``DataFrame.offset``, the API surface
    clients paginate with). The total order carries the key tiebreak so
    pages are deterministic across engines and runs. Scale note: OFFSET
    pagination is fine for UI-depth offsets (Spark plans it as a global
    top-(offset+limit) TakeOrdered -- no full sort); DEEP pagination
    (offset in the millions) belongs to keyset predicates
    (WHERE (bal, key) < last_seen) which this same total order makes
    correct."""
    c = load(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
        )
        .orderBy(F.desc("bal_cents"), F.asc("c_custkey"))
        .offset(40)
        .limit(20)
    )


@register(
    "agg_filter_clause",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_all,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS n_finished,
           CAST(COALESCE(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                FILTER (WHERE o_totalprice > 200000), 0) AS BIGINT)
               AS big_cents,
           CAST(COUNT(DISTINCT o_custkey)
                FILTER (WHERE o_orderstatus = 'O') AS BIGINT)
               AS open_custs
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI FILTER-clause aggregates: several differently-predicated
    aggregates off ONE table pass (`agg FILTER (WHERE ...)`), the SQL
    surface clients use instead of N self-joined subqueries — Catalyst
    plans each filtered aggregate as a conditional update inside the
    same hash-aggregate operator, so adding a metric never adds a
    scan. Stated through spark.sql to pin the PARSER surface (the
    DataFrame when()-inside-agg equivalent is exercised elsewhere);
    the distinct-under-filter arm covers the expand-path interaction."""
    load(spark, sf_dir, "orders").createOrReplaceTempView(
        "mdx_orders_filter_v"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_all,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
                   AS n_finished,
               CAST(COALESCE(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE o_totalprice > 200000), 0) AS BIGINT)
                   AS big_cents,
               CAST(COUNT(DISTINCT o_custkey)
                    FILTER (WHERE o_orderstatus = 'O') AS BIGINT)
                   AS open_custs
        FROM mdx_orders_filter_v
        GROUP BY o_orderpriority
        """
    )


@register(
    "project_struct_nested",
    oracle="""
    WITH s AS (
      SELECT o_orderkey,
             struct_pack(
               cust := o_custkey,
               money := struct_pack(
                 cents := CAST(round(o_totalprice * 100) AS BIGINT),
                 priority := o_orderpriority)) AS meta
      FROM orders)
    SELECT o_orderkey,
           meta.cust AS cust,
           meta.money.cents AS cents,
           meta.money.priority AS priority,
           CAST(meta.money.cents + 1 AS BIGINT) AS cents_bumped
    FROM s
    """,
)
def project_struct_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-STRUCT projection surface: build a two-level struct
    column, read fields back with dot paths, and REWRITE one inner
    field with ``withField`` (the Spark 3.1+ primitive that updates a
    leaf without exploding and rebuilding the tree — essential when
    real schemas nest 5+ levels and a transform touches one leaf).
    Catalyst collapses the construct/extract round trip into plain
    column references (CreateNamedStruct elimination), so the plan is
    a single codegen projection over the scan — struct nesting is a
    SCHEMA shape, not an execution cost. The oracle builds the same
    tree with struct_pack and dots it back out."""
    o = load(spark, sf_dir, "orders")
    s = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_custkey").alias("cust"),
            F.struct(
                F.round(F.col("o_totalprice") * 100)
                .cast("bigint")
                .alias("cents"),
                F.col("o_orderpriority").alias("priority"),
            ).alias("money"),
        ).alias("meta"),
    )
    bumped = s.withColumn(
        "meta",
        F.col("meta").withField(
            "money",
            F.col("meta.money").withField(
                "cents_bumped", F.col("meta.money.cents") + 1
            ),
        ),
    )
    return bumped.select(
        "o_orderkey",
        F.col("meta.cust").alias("cust"),
        F.col("meta.money.cents").alias("cents"),
        F.col("meta.money.priority").alias("priority"),
        F.col("meta.money.cents_bumped").cast("bigint").alias("cents_bumped"),
    )


@register(
    "set_union_evolved_schema",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 2 = 0),
    new AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderpriority AS priority
      FROM orders WHERE o_orderkey % 2 = 1)
    SELECT o_orderkey, cents, NULL AS priority FROM old
    UNION ALL
    SELECT o_orderkey, cents, priority FROM new
    """,
)
def set_union_evolved_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-EVOLUTION union: an old extract (2 columns) and a new
    extract that grew a column union into one relation with
    ``unionByName(allowMissingColumns=True)`` — the alignment is BY
    NAME with nulls filled for the missing column, not by position
    (positional UNION silently mismatches the moment schemas drift —
    the exact failure long-running ingestion pipelines hit on the day
    a producer adds a field). Zero-shuffle: both sides stay map-side
    scans; the union is a plan-level concatenation. The oracle states
    the same by-name alignment explicitly."""
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    old = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", cents)
    new = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", cents, F.col("o_orderpriority").alias("priority")
    )
    return old.unionByName(new, allowMissingColumns=True)


#: Tolerance for join_asof_tolerance, in seconds (pandas
#: merge_asof(tolerance=...) semantics).
ASOF_TOLERANCE_S = 600


@register(
    "join_asof_tolerance",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, ts, event_id AS click_id
      FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts, event_id
      FROM events WHERE event_type = 'purchase'),
    j AS (
      SELECT p.event_id, p.user_id, c.click_id,
             (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS lag_s,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.click_id DESC) AS rn
      FROM purchases p
      JOIN clicks c ON c.user_id = p.user_id AND c.ts <= p.ts)
    SELECT p.event_id, p.user_id,
           CASE WHEN j.lag_s * 1000000 <= {ASOF_TOLERANCE_S} * 1000000
                THEN j.click_id END AS click_id,
           CAST(CASE WHEN j.lag_s * 1000000 <= {ASOF_TOLERANCE_S} * 1000000
                THEN j.lag_s END AS BIGINT) AS lag_s
    FROM purchases p
    LEFT JOIN j ON j.event_id = p.event_id AND j.rn = 1
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH a tolerance bound (pandas merge_asof(tolerance)
    semantics): each purchase matches its most recent same-user click
    at-or-before its timestamp, but only if the gap is <= 600 s —
    beyond it the match is NULL rather than a stale attribution. The
    missing mode of join_asof, and the one production attribution
    actually wants (a click from last month should not claim credit).

    Same scale-first construction as join_asof: union both sides, ONE
    user-partitioned ordered window carrying the last click id AND its
    timestamp (a packed struct, so one window not two), then the
    tolerance check is a post-window column predicate. One shuffle on
    user_id, no pairwise blowup; the oracle states the same semantics
    with the naive join + ROW_NUMBER form DuckDB can afford at oracle
    scale."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.lit(1).alias("is_click"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    merged = purchases.withColumns(
        {"click_id": F.lit(None).cast("long"), "is_click": F.lit(0)}
    ).unionByName(clicks.withColumn("purchase_id", F.lit(None).cast("long")))
    # clicks sort before purchases at equal ts (ties included), and
    # equal-ts clicks order by click_id so "most recent" is
    # deterministic: the LAST row in the frame is the max click_id,
    # matching the oracle's ORDER BY c.ts DESC, c.click_id DESC pick.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.desc("is_click"), "click_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lastc = F.last(
        F.when(
            F.col("is_click") == 1,
            F.struct(F.col("ts").alias("cts"), F.col("click_id").alias("cid")),
        ),
        ignorenulls=True,
    ).over(w)
    return (
        merged.withColumn("lc", lastc)
        .filter(F.col("is_click") == 0)
        .withColumn(
            # lag floored to whole seconds from the EXACT microsecond
            # difference (both sides positive): fractional-second
            # truncation per-operand (unix_timestamp) disagrees with
            # the oracle's fractional difference, so divide once.
            "lag_us",
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("lc.cts")),
        )
        .select(
            F.col("purchase_id").alias("event_id"),
            "user_id",
            F.when(
                F.col("lag_us") <= ASOF_TOLERANCE_S * 1_000_000,
                F.col("lc.cid"),
            ).alias("click_id"),
            F.when(
                F.col("lag_us") <= ASOF_TOLERANCE_S * 1_000_000,
                F.expr("lag_us div 1000000"),
            )
            .cast("bigint")
            .alias("lag_s"),
        )
    )
