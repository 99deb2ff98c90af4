"""Table catalog over the driver's parquet fixtures (TESTDATA.md).

One parquet per table per scale dir. Reads are plain
``spark.read.parquet`` so Catalyst gets predicate pushdown + column
pruning for free; at cluster scale these would be partitioned/bucketed
tables behind the same names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from metadata_extractors_api_spark.store import memo

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to broadcast at any realistic scale.
BROADCAST_DIMS = {"region", "nation", "supplier", "part", "customer"}


def load(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool = False
) -> DataFrame:
    """Load one fixture table as a DataFrame.

    ``events.ts`` has shipped in two physical encodings across fixture
    generations: parquet TIMESTAMP(NANOS) (which Spark 4 rejects unless
    read as raw-nanos long under a legacy conf) and plain
    TIMESTAMP(MICROS) (inferred as TIMESTAMP_NTZ). Detect which one is
    on disk and normalize both to a microsecond TimestampType with the
    same wall-clock values DuckDB sees, so oracle comparisons stay
    exact at µs granularity regardless of fixture vintage.
    """
    if name == "events":
        df = _load_events(spark, sf_dir)
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if parallelize:
        df = _ensure_parallel(spark, df)
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table, normalizing ``ts`` to TimestampType.

    * TIMESTAMP(MICROS) fixtures infer as TIMESTAMP_NTZ: cast to the
      session-zoned TimestampType. The cast interprets the naive value
      in the session timezone and collection converts back with the
      same zone, so the wall-clock value round-trips identically for
      ANY session timezone -- downstream operators keep seeing the one
      TimestampType they were written against.
    * TIMESTAMP(NANOS) fixtures fail plain schema inference; re-read
      with the legacy nanos-as-long conf (scoped to the inference call
      -- the planned scan keeps its baked schema after the restore) and
      floor-convert ns -> µs, the same truncation DuckDB applies.
    """
    from pyspark.sql import functions as F

    path = f"{sf_dir}/events.parquet"
    try:
        df = spark.read.parquet(path)
    except Exception:
        df = None
    if df is None:
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _ensure_parallel(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Spread a compute-heavy pipeline across all cores when the scan
    under-parallelizes.

    A parquet row group is Spark's minimum split unit; the driver's
    fixtures are single-row-group files, so every scan is ONE task no
    matter how many cores exist. Callers with expensive per-row work
    opt in to a round-robin repartition -- a narrow, cheap shuffle that
    restores parallelism. On a real cluster (many files / row groups)
    the scan is already parallel and this is a no-op, so the same plan
    serves both environments.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views (for engine.sql())."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


#: relational tables worth CBO stats (events needs the legacy ns read
#: path and the doc/embedding tables join on nothing).
STATS_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
]


def create_stats_tables(spark: SparkSession, sf_dir: str, db: str = "mdx_stats") -> str:
    """Register the fixture parquet as catalog tables and ANALYZE them
    (table + all-column statistics), feeding Spark's cost-based
    optimizer. The session catalog is in-memory, so this is
    session-scoped state, not an on-disk metastore. On a cluster this
    is the scheduled `ANALYZE TABLE ... COMPUTE STATISTICS` job that
    keeps CBO join-reordering and broadcast decisions honest as tables
    grow. Returns the database name; built once per (session, sf_dir, db)."""

    def build() -> None:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        for t in STATS_TABLES:
            spark.sql(f"DROP TABLE IF EXISTS {db}.{t}")
            spark.sql(
                f"CREATE TABLE {db}.{t} USING PARQUET LOCATION '{sf_dir}/{t}.parquet'"
            )
            spark.sql(f"ANALYZE TABLE {db}.{t} COMPUTE STATISTICS")
            spark.sql(f"ANALYZE TABLE {db}.{t} COMPUTE STATISTICS FOR ALL COLUMNS")

    memo(spark, ("stats_tables", sf_dir, db), build)
    return db
