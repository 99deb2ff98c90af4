"""Training-data assembly operators: the batch shapes that sit BETWEEN
a curated corpus and an LLM pretraining run — sequence packing, seeded
global shuffle, exact stratified sampling, snapshot diffing, join-key
skew triage, and incremental (delta-vs-index) near-dedup.

Everything here follows the package's scale rules: candidate spaces
are bounded by construction (never O(n^2)), global order is computed
with the range-repartitioned two-phase prefix sum (`_global_cumsum`,
no single-partition window), top-k-per-group rides Spark 3.5+'s
WindowGroupLimit partial pushdown, and all cross-engine-compared
arithmetic is exact-integer or one terminal IEEE division.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metadata_extractors_api_spark.catalog import load
from metadata_extractors_api_spark.operators.llm import (
    MAX_LSH_BUCKET,
    _cap_buckets,
    _minhash_band_buckets,
    _minhash_cte_prefix,
    _sql_dot,
    cosine_from_scaled,
    dot_scaled,
    exact_jaccard_verify,
    minhash_signatures,
    shingles_col,
    tokens_col,
)
from metadata_extractors_api_spark.operators.quality import (
    _global_cumsum,
    _global_rank,
)
from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.store import memo

#: context-window length (tokens) for concat-and-chunk packing.
PACK_CHUNK = 512

#: documents per stratum kept by the exact stratified sample.
STRATUM_K = 50

#: delta gate for incremental dedup: doc_id % DELTA_MOD == 0 is "new".
DELTA_MOD = 10


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


@register(
    "pack_concat_chunks",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    c AS (
      SELECT doc_id, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY doc_id) AS BIGINT) AS cw
      FROM d),
    e AS (
      SELECT doc_id,
             (cw - n_tok) // {PACK_CHUNK} AS fc,
             (cw - 1) // {PACK_CHUNK} AS lc
      FROM c),
    x AS (
      SELECT doc_id, fc, unnest(range(fc, lc + 1)) AS chunk_id FROM e)
    SELECT CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN chunk_id = fc THEN 1 ELSE 0 END) AS BIGINT)
               AS n_starts
    FROM x GROUP BY chunk_id
    """,
)
def pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pretraining
    batch layout): documents are concatenated in deterministic doc_id
    order and sliced into fixed ``PACK_CHUNK``-token context windows;
    the report gives, per window, how many documents it touches and how
    many begin inside it — the packing-efficiency numbers (docs/window,
    boundary-crossing rate) read before fixing a context length.
    (Complement of ``pack_sequences``: that one assigns docs to
    per-lang budget bins with a per-stream window; this one slices the
    GLOBAL concatenated token stream, which needs the scalable global
    prefix sum below.)

    Scale shape: token offsets come from ``_global_cumsum`` (range
    repartition + per-partition window + broadcast offset table), so no
    stage ever serializes the corpus through one partition — this IS
    the scalable form of ROW_NUMBER-over-everything. Each document then
    explodes into the ~n_tok/chunk windows it spans (total explode
    volume = total_tokens/chunk + n_docs, linear), and the per-window
    rollup is one map-side-combinable groupBy."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens_col()).cast("bigint").alias("n_tok")
    )
    c = _global_cumsum(d, "doc_id", "doc_id", "n_tok")
    spans = c.select(
        "doc_id",
        F.floor((F.col("cw") - F.col("n_tok")) / F.lit(PACK_CHUNK))
        .cast("bigint")
        .alias("fc"),
        F.floor((F.col("cw") - 1) / F.lit(PACK_CHUNK)).cast("bigint").alias("lc"),
    )
    exploded = spans.select(
        "doc_id", "fc", F.explode(F.sequence("fc", "lc")).alias("chunk_id")
    )
    return exploded.groupBy("chunk_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("chunk_id") == F.col("fc")).cast("int"))
        .cast("bigint")
        .alias("n_starts"),
    )


# ---------------------------------------------------------------------------
# seeded global shuffle
# ---------------------------------------------------------------------------


@register(
    "shuffle_deterministic",
    oracle="""
    SELECT CAST(ROW_NUMBER() OVER (
             ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
           AS BIGINT) AS position,
           doc_id
    FROM documents
    """,
)
def shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle: the training-order
    permutation. Every engine and every rerun agrees on the order
    because the sort key is md5(seed || doc_id) — no RNG state, no
    partition-count dependence; resharding the cluster cannot change
    the epoch order (the property that makes training runs resumable
    and ablations comparable).

    Scale shape: the global position is assigned by ``_global_cumsum``
    with unit weights (range-repartition on the hash key — which is
    uniform by construction, so the ranges are balance-perfect — local
    window count, broadcast partition-offset table). No single-
    partition ROW_NUMBER anywhere."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat(F.lit("42:"), F.col("doc_id").cast("string"))).alias("k"),
        F.lit(1).alias("one"),
    )
    c = _global_cumsum(d, "k", "doc_id", "one")
    return c.select(F.col("cw").cast("bigint").alias("position"), "doc_id")


# ---------------------------------------------------------------------------
# exact stratified sampling
# ---------------------------------------------------------------------------


@register(
    "sample_stratified_exact",
    oracle=f"""
    SELECT lang, sample_rank, doc_id FROM (
      SELECT lang, doc_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('s7:' || CAST(doc_id AS VARCHAR)), doc_id)
             AS BIGINT) AS sample_rank
      FROM documents)
    WHERE sample_rank <= {STRATUM_K}
    """,
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample (k=50 per language):
    the eval-set / human-review draw where "roughly k" is not
    acceptable and the draw must be reproducible. The order within a
    stratum is a seeded hash, so membership is stable under corpus
    growth except where new docs genuinely displace the tail.
    (Complement of ``sample_stratified``: that one draws a FRACTION of
    each stratum; this one draws an exact count k.)

    Scale shape: a rank-filtered window is NOT a full per-stratum sort
    in Spark 3.5+ — the ``row_number() <= k`` filter compiles to
    WindowGroupLimit(Partial) BEFORE the exchange, so each map task
    forwards at most k rows per stratum and the shuffle carries
    O(k x partitions x strata), not the corpus (asserted in
    tests/test_training.py). A hot stratum therefore costs k rows per
    upstream task, never its full row count, and the final per-stratum
    sort ranks <= k x partitions survivors."""
    d = load(spark, sf_dir, "documents", parallelize=True)
    keyed = d.select(
        "lang",
        "doc_id",
        F.md5(F.concat(F.lit("s7:"), F.col("doc_id").cast("string"))).alias("k"),
    )
    w = Window.partitionBy("lang").orderBy("k", "doc_id")
    return (
        keyed.withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("sample_rank") <= STRATUM_K)
        .select("lang", "sample_rank", "doc_id")
    )


# ---------------------------------------------------------------------------
# snapshot diff
# ---------------------------------------------------------------------------


@register(
    "table_snapshot_diff",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    snap_a AS (SELECT k, cents FROM base WHERE k % 7 <> 0),
    snap_b AS (
      SELECT k,
             cents + CASE WHEN k % 11 = 0 THEN 100 ELSE 0 END AS cents
      FROM base WHERE k % 5 <> 0),
    d AS (
      SELECT CASE WHEN a.k IS NULL THEN 'added'
                  WHEN b.k IS NULL THEN 'removed'
                  WHEN a.cents = b.cents THEN 'unchanged'
                  ELSE 'changed' END AS change_type
      FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k)
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM d GROUP BY change_type
    """,
)
def table_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (the data-versioning primitive): classify every
    key of two table snapshots as added / removed / changed / unchanged
    and report the class sizes — the audit run before promoting a new
    corpus or dimension snapshot. Snapshots are derived from ``orders``
    by deterministic key gates (so the oracle sees identical inputs);
    "changed" rows get an exact-cents perturbation.

    Scale shape: ONE full outer join, shuffled on the key both sides
    (co-partitioned; at warehouse scale both snapshots would be
    bucketed on the key and the exchange disappears), then a
    map-side-combinable count per class. Values are compared in exact
    integer cents; a wide table would compare a column digest instead
    — same plan, one column."""
    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    snap_a = base.filter(F.col("k") % 7 != 0)
    snap_b = base.filter(F.col("k") % 5 != 0).select(
        "k",
        (
            F.col("cents")
            + F.when(F.col("k") % 11 == 0, F.lit(100)).otherwise(F.lit(0))
        ).alias("cents"),
    )
    d = snap_a.alias("a").join(
        snap_b.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer"
    )
    cls = (
        F.when(F.col("a.k").isNull(), F.lit("added"))
        .when(F.col("b.k").isNull(), F.lit("removed"))
        .when(F.col("a.cents") == F.col("b.cents"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        d.select(cls.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# join-key skew triage
# ---------------------------------------------------------------------------


@register(
    "skew_diagnose_keys",
    oracle="""
    SELECT key_name, n_rows, n_keys, max_rows_per_key,
           round(max_rows_per_key * n_keys * 1.0 / n_rows, 6) AS hot_key_ratio
    FROM (
      SELECT 'events.user_id' AS key_name,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
               (SELECT user_id FROM events GROUP BY user_id)) AS n_keys,
             (SELECT CAST(MAX(c) AS BIGINT) FROM
               (SELECT COUNT(*) AS c FROM events GROUP BY user_id))
                 AS max_rows_per_key
      UNION ALL
      SELECT 'lineitem.l_orderkey',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
               (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey)),
             (SELECT CAST(MAX(c) AS BIGINT) FROM
               (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey))
      UNION ALL
      SELECT 'lineitem.l_partkey',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
               (SELECT l_partkey FROM lineitem GROUP BY l_partkey)),
             (SELECT CAST(MAX(c) AS BIGINT) FROM
               (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_partkey))
      UNION ALL
      SELECT 'lineitem.l_suppkey',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
               (SELECT l_suppkey FROM lineitem GROUP BY l_suppkey)),
             (SELECT CAST(MAX(c) AS BIGINT) FROM
               (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_suppkey))
    ) ORDER BY key_name
    """,
)
def skew_diagnose_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew census: for every join key of the workload, the
    row count, distinct-key count, and hottest-key row count — the
    report that decides, BEFORE a 100 TB shuffle, whether a join needs
    salting or AQE skew handling. ``hot_key_ratio`` is hottest-key rows
    over the uniform expectation (n_rows / n_keys): ~1 means flat, >>1
    means the hottest key is that many times over-loaded. NULL keys
    count as a key group on both engines — the NULL bucket is
    precisely the guaranteed-hot key this census must not drop.

    Scale shape: each census is groupBy(key).count() (partial-agg
    combinable, the shuffle carries one row per distinct key) followed
    by a single-row rollup; the four censuses union into the report.
    This is the census the LSH bucket guard (dedup_minhash_bucket_
    stats) already applies to its own join keys, generalized to the
    relational workload."""

    from metadata_extractors_api_spark.operators.quality import _key_census

    def census(df: DataFrame, key: str, name: str) -> DataFrame:
        return _key_census(df, [key], name).withColumn(
            "hot_key_ratio",
            F.round(
                F.col("max_rows_per_key") * F.col("n_keys") / F.col("n_rows"), 6
            ),
        )

    li = load(spark, sf_dir, "lineitem")
    ev = load(spark, sf_dir, "events")
    out = census(ev, "user_id", "events.user_id")
    for key in ("l_orderkey", "l_partkey", "l_suppkey"):
        out = out.unionByName(census(li, key, f"lineitem.{key}"))
    return out


# ---------------------------------------------------------------------------
# incremental (delta-vs-index) near-dedup
# ---------------------------------------------------------------------------


def _incremental_minhash_oracle() -> str:
    """Delta-vs-index minhash dedup as one DuckDB statement generated
    from the same constants as the Spark side (shared CTE prefix with
    dedup_minhash)."""
    return f"""{_minhash_cte_prefix()},
    buckets AS (
      SELECT doc_id, band, bh FROM (
        SELECT doc_id, band, bh,
               count(*) OVER (PARTITION BY band, bh) AS bn
        FROM rawb)
      WHERE bn <= {MAX_LSH_BUCKET}),
    cand AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                      greatest(a.doc_id, b.doc_id) AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bh = b.bh
       AND a.doc_id <> b.doc_id AND b.doc_id % {DELTA_MOD} = 0),
    exsh AS (SELECT doc_id, unnest(shingle_list) AS shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM exsh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cand c
      JOIN exsh x ON x.doc_id = c.doc_a
      JOIN exsh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS jaccard,
           CASE WHEN i.doc_a % {DELTA_MOD} = 0 AND i.doc_b % {DELTA_MOD} = 0
                THEN 'delta-delta' ELSE 'delta-index' END AS pair_class
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) >= 0.5
    """


def _minhash_bucket_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped LSH bucket index, materialized once per session. In
    production it is a PERSISTED artifact (written once per corpus
    epoch, bucketed on the band hash); this materialization is the
    local stand-in for that table, and it is what makes the incremental
    run cost O(delta), not O(corpus)."""

    def build() -> DataFrame:
        d = load(spark, sf_dir, "documents", parallelize=True)
        return _cap_buckets(
            _minhash_band_buckets(minhash_signatures(d)), "band", "bh"
        ).localCheckpoint()

    return memo(spark, ("minhash_bucket_index", sf_dir), build)


@register("dedup_incremental_minhash", oracle=_incremental_minhash_oracle())
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental minhash dedup — the PRODUCTION dedup shape: a small
    delta of new documents (doc_id % 10 == 0 here; an ingest batch in
    production) is checked against the already-indexed corpus AND
    itself, without ever re-pairing the index against the index. The
    LSH band join keeps one side delta-only, so candidate volume is
    O(delta collisions), not O(corpus collisions): re-running dedup on
    a 100 TB corpus for a 0.1 TB ingest costs ~0.1% of the full run.
    Emits the same verified exact-Jaccard pairs as dedup_minhash plus a
    pair_class column (delta-index vs delta-delta) — the split that
    decides which side of a duplicate pair gets dropped (new dup of an
    indexed doc: drop the new one; intra-batch dup: keep one).

    In production the index side's (band, bh) buckets are a persisted
    table bucketed on the band hash (written once per corpus epoch);
    here the memoized ``_minhash_bucket_index`` materialization plays
    that role, and both sides derive from the fixture corpus so the
    oracle can replay the identical pipeline. The over-cap bucket quarantine
    (MAX_LSH_BUCKET) applies before pairing exactly as in
    dedup_minhash."""
    d = load(spark, sf_dir, "documents", parallelize=True)
    buckets = _minhash_bucket_index(spark, sf_dir)
    delta = buckets.filter(F.col("doc_id") % DELTA_MOD == 0)
    cand = (
        buckets.alias("a")
        .join(
            delta.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    jac = exact_jaccard_verify(d, cand)
    return jac.filter(F.col("jaccard") >= 0.5).select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.when(
            (F.col("doc_a") % DELTA_MOD == 0) & (F.col("doc_b") % DELTA_MOD == 0),
            F.lit("delta-delta"),
        )
        .otherwise(F.lit("delta-index"))
        .alias("pair_class"),
    )


# ---------------------------------------------------------------------------
# hard-negative mining
# ---------------------------------------------------------------------------


@register(
    "sample_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlabel, embedding AS qe,
             {_sql_dot('embedding', 'embedding')} AS qn
      FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.qid, e.vec_id, e.label AS neg_label,
             round(({_sql_dot('e.embedding', 'q.qe')} / 1e12)
                   / (sqrt({_sql_dot('e.embedding', 'e.embedding')} / 1e12)
                      * sqrt(q.qn / 1e12)), 6) AS score
      FROM embeddings e CROSS JOIN q
      WHERE e.label <> q.qlabel),
    r AS (
      SELECT qid, vec_id, neg_label, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, vec_id) AS rk
      FROM scored)
    SELECT qid, vec_id, neg_label, score, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 5
    ORDER BY qid, rk
    """,
)
def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector in a batch, the 5 most-similar vectors with a DIFFERENT
    label — the near-misses that make an embedding model learn
    boundaries (random negatives are trivially easy; the hard ones are
    the high-cosine wrong-label neighbors this query surfaces).

    Same scale shape as sim_topk_batch (one corpus pass, broadcast
    query batch, scaled-int64 dot products, per-query window ranking);
    the label inequality is a scan-time filter, and the Spark 3.5+
    WindowGroupLimit pushdown keeps the per-query rank from ever
    sorting more than k rows per map task."""
    e = load(spark, sf_dir, "embeddings", parallelize=True)
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        dot_scaled(F.col("embedding"), F.col("embedding")).alias("qn"),
    )
    # The corpus row's self-dot is hoisted BEFORE the batch cross join:
    # inside the post-join projection it would be re-evaluated once per
    # query in the batch (the dominant expression, |batch|x wasted).
    corpus = e.select(
        "vec_id",
        "label",
        "embedding",
        dot_scaled(F.col("embedding"), F.col("embedding")).alias("en"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            "vec_id",
            F.col("label").alias("neg_label"),
            cosine_from_scaled(
                dot_scaled(F.col("embedding"), F.col("qe")),
                F.col("en"),
                F.col("qn"),
            ).alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 5)
        .orderBy("qid", "rk")
    )


# ---------------------------------------------------------------------------
# market-basket affinity
# ---------------------------------------------------------------------------


@register(
    "orders_basket_affinity",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pc AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM li GROUP BY 1),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM li),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS co_count
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT part_a, part_b, co_count,
           CAST((co_count * n.n_orders * 1000000)
                // (ca.cnt * cb.cnt) AS BIGINT) AS lift_e6
    FROM pairs
    CROSS JOIN n
    JOIN pc ca ON ca.l_partkey = part_a
    JOIN pc cb ON cb.l_partkey = part_b
    """,
)
def orders_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs that co-occur in >= 2 orders
    with their lift (observed co-rate over the independence
    expectation, in exact integer millionths) — the co-purchase signal
    behind recommendations and store layout.

    Scale shape: the pair space is generated per order via self-join
    on l_orderkey, so its size is sum over orders of C(basket, 2) —
    bounded by basket size (single digits), NEVER |parts|^2; the
    co-count groupBy is map-side combinable; the per-part frequency
    relation is dimension-sized (AQE broadcasts it at runtime when it
    fits — no hard-coded hint, since "dimension-sized" stops meaning
    "small" at extreme scale factors); and
    lift itself is one exact integer expression (co * n_orders * 1e6
    div (cnt_a * cnt_b)), so the report hash-matches any engine."""
    # The distinct basket relation has FIVE consumers (both self-join
    # sides, the part counts twice via ca/cb, the order census); the
    # old plan re-ran the scan + distinct exchange per consumer
    # (5 parquet scans measured). Materialize it once — the basket
    # relation IS the intermediate a production pipeline keeps — and
    # the dimension-sized part counts once on top of it.
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint()
    )
    pc = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint()
    )
    n = li.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("co_count"))
        .filter(F.col("co_count") >= 2)
    )
    # No broadcast hint on the per-part counts: the part dimension is
    # catalog-sized (broadcastable at warehouse SFs, not at extreme
    # ones) and the relation is computed — AQE sizes it at runtime.
    return (
        pairs.crossJoin(F.broadcast(n))
        .join(pc.withColumnsRenamed({"l_partkey": "part_a", "cnt": "ca"}), "part_a")
        .join(pc.withColumnsRenamed({"l_partkey": "part_b", "cnt": "cb"}), "part_b")
        .select(
            "part_a",
            "part_b",
            "co_count",
            F.expr("(co_count * n_orders * 1000000) div (ca * cb)")
            .cast("bigint")
            .alias("lift_e6"),
        )
    )


# ---------------------------------------------------------------------------
# per-source corpus data card
# ---------------------------------------------------------------------------


@register(
    "corpus_domain_stats",
    oracle="""
    WITH tok AS (
      SELECT source, doc_id,
             CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS n_uniq
      FROM documents),
    s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
             CAST(SUM(n_uniq) AS BIGINT) AS total_uniq
      FROM tok GROUP BY source),
    t AS (SELECT CAST(SUM(total_tokens) AS BIGINT) AS corpus_tokens FROM s)
    SELECT source, n_docs, total_tokens,
           CAST((total_tokens * 1000000) // (t.corpus_tokens) AS BIGINT)
               AS token_share_e6,
           CAST((total_uniq * 1000000) // (total_tokens) AS BIGINT)
               AS ttr_e6
    FROM s CROSS JOIN t
    """,
)
def corpus_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source "data card": document count, token volume, share
    of the corpus token budget, and mean type-token ratio proxy per
    source — the table a mixture designer reads before setting
    per-domain sampling weights (mix_sources_weighted consumes exactly
    these shares).

    Scale shape: ONE corpus scan computes per-doc token counts inside
    the projection (no explode — size() over the split array), one
    map-side-combinable groupBy(source) rolls them up to the
    domain-count-sized report, and the corpus total broadcasts back as
    a single-row cross join. All ratios are exact integer millionths."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.size(tokens_col()).cast("bigint").alias("n_tok"),
        F.size(F.array_distinct(tokens_col())).cast("bigint").alias("n_uniq"),
    )
    s = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum("n_uniq").cast("bigint").alias("total_uniq"),
    )
    t = s.agg(F.sum("total_tokens").cast("bigint").alias("corpus_tokens"))
    return s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "total_tokens",
        F.expr("(total_tokens * 1000000) div corpus_tokens")
        .cast("bigint")
        .alias("token_share_e6"),
        F.expr("(total_uniq * 1000000) div total_tokens")
        .cast("bigint")
        .alias("ttr_e6"),
    )


# ---------------------------------------------------------------------------
# retrieval chunking (sliding windows with overlap)
# ---------------------------------------------------------------------------

#: retrieval chunk width / stride in tokens (overlap = width - stride).
CHUNK_W = 16
CHUNK_S = 12


@register(
    "chunk_overlap_windows",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, str_split(text, ' ') AS tk,
             CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    x AS (
      SELECT doc_id, n_tok, tk,
             unnest(range(0, (n_tok - 1) // {CHUNK_S} + 1)) AS chunk_idx
      FROM d)
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * {CHUNK_S} AS BIGINT) AS start_tok,
           CAST(least(chunk_idx * {CHUNK_S} + {CHUNK_W}, n_tok)
                - chunk_idx * {CHUNK_S} AS BIGINT) AS chunk_len,
           tk[CAST(chunk_idx * {CHUNK_S} AS BIGINT) + 1] AS first_token
    FROM x
    """,
)
def chunk_overlap_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window retrieval chunking: every document becomes
    overlapping CHUNK_W(=16)-token windows at stride CHUNK_S(=12)
    (overlap = width - stride), the layout a RAG index embeds — overlap keeps
    answers that straddle a boundary findable. Emits one row per chunk
    with its exact token span and first token (proving token
    addressing, not just arithmetic).

    Scale shape: pure per-document arithmetic — no shuffle at all.
    The chunk explode is sequence() over ceil(n_tok/stride) elements
    (linear in corpus tokens), computed inside one codegen'd map pass;
    a real pipeline would slice the token array per row the same way
    (F.slice) and hand each chunk to the embedder via mapInPandas."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        tokens_col().alias("tk"),
        F.size(tokens_col()).cast("bigint").alias("n_tok"),
    )
    x = d.select(
        "doc_id",
        "n_tok",
        "tk",
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                F.floor((F.col("n_tok") - 1) / F.lit(CHUNK_S)).cast("bigint"),
            )
        ).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * CHUNK_S
    return x.select(
        "doc_id",
        "chunk_idx",
        start.cast("bigint").alias("start_tok"),
        (F.least(start + CHUNK_W, F.col("n_tok")) - start)
        .cast("bigint")
        .alias("chunk_len"),
        F.element_at("tk", (start + 1).cast("int")).alias("first_token"),
    )


# ---------------------------------------------------------------------------
# normalization-then-hash dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_normalized",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')) AS ntext
      FROM documents)
    SELECT md5(ntext) AS norm_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM norm GROUP BY md5(ntext)
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-hash dedup (the C4-style "fuzzy exact"
    stage): lowercase, strip punctuation to spaces, collapse runs of
    whitespace, THEN digest — catching re-ingested documents that
    differ only in casing/punctuation/whitespace, which byte-exact
    dedup (dedup_exact) misses. Runs between exact and minhash dedup
    in a curation funnel: each stage's survivors feed the next.

    Scale shape: identical to dedup_exact — the normalization is a
    codegen'd string expression in the scan projection, and the one
    shuffle carries (digest, doc_id), never documents; skew-proof by
    construction (a digest IS uniformly distributed)."""
    d = load(spark, sf_dir, "documents")
    ntext = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return (
        d.select("doc_id", F.md5(ntext).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# embedding-space health: per-label centroid + dispersion
# ---------------------------------------------------------------------------


@register(
    "embedding_centroid_stats",
    oracle="""
    WITH e AS (
      SELECT label, vec_id, generate_subscripts(embedding, 1) AS dim,
             unnest(embedding) AS v
      FROM embeddings)
    SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT))
                AS BIGINT) AS sum_e6,
           CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1e12)
                         AS BIGINT)) AS BIGINT) AS sumsq_e12
    FROM e GROUP BY label, dim
    """,
)
def embedding_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label, per-dimension first and second moments of the
    embedding space — the sufficient statistics for class centroids
    (sum_e6 / n) and within-class variance (sumsq_e12/n - mean^2): the
    encoder-health audit. Run per snapshot and diffed, this is the
    embedding-drift monitor (a retrained encoder that moved a class
    centroid or collapsed its variance shows up here before retrieval
    quality craters); the same relation feeds LDA-style class
    separability checks.

    Scale shape: one posexplode pass (64 rows per vector, linear), one
    map-side-combinable groupBy(label, dim) whose exchange carries
    |labels| x |dims| rows. Moments are exact scaled-int64 (floor at
    1e6 / 1e12, the package's portable convention), so the statistics
    are bit-identical at any parallelism — exactly what you need when
    DIFFING two snapshots' audits, where float jitter would read as
    drift."""
    e = load(spark, sf_dir, "embeddings", parallelize=True)
    x = e.select(
        "label", F.posexplode("embedding").alias("dim0", "v")
    ).select(
        F.col("label").cast("bigint").alias("label"),
        (F.col("dim0") + 1).cast("bigint").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    return x.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(F.floor(F.col("v") * F.lit(1e6)).cast("bigint"))
        .cast("bigint")
        .alias("sum_e6"),
        F.sum(F.floor(F.col("v") * F.col("v") * F.lit(1e12)).cast("bigint"))
        .cast("bigint")
        .alias("sumsq_e12"),
    )


# ---------------------------------------------------------------------------
# temperature-scaled mixture weights
# ---------------------------------------------------------------------------


@register(
    "mix_temperature_sampling",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS toks
      FROM documents GROUP BY source),
    t AS (SELECT CAST(SUM(toks) AS BIGINT) AS total FROM s),
    sh AS (
      SELECT source, toks,
             CAST((toks * 1000000) // t.total AS BIGINT) AS share_e6
      FROM s CROSS JOIN t),
    w AS (SELECT source, toks, share_e6,
                 share_e6 * share_e6 AS wgt FROM sh),
    z AS (SELECT CAST(SUM(wgt) AS BIGINT) AS zsum FROM w)
    SELECT source, toks, share_e6,
           CAST((wgt * 1000000) // z.zsum AS BIGINT) AS t05_share_e6
    FROM w CROSS JOIN z
    """,
)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain-mixture weights at T=1/2: sampling
    weight proportional to share^(1/T) = share^2 — the standard
    temperature reweighting that sharpens (T<1) or flattens (T>1) a
    domain mixture before pretraining. T=1/2 is chosen because
    squaring keeps EVERY step in exact int64 (share_e6^2 <= 1e12), so
    the weight table is hash-identical on any engine — fractional
    temperatures need pow(), whose libm rounding differs across
    engines and would turn a mixture config into a float lottery.

    Scale shape: one corpus scan + a source-count-sized rollup; the
    normalizing constants are single-row broadcasts. Downstream,
    mix_sources_weighted consumes exactly these shares as its
    hash-gate thresholds."""
    d = load(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.sum(F.size(tokens_col())).cast("bigint").alias("toks")
    )
    t = s.agg(F.sum("toks").cast("bigint").alias("total"))
    sh = s.crossJoin(F.broadcast(t)).select(
        "source",
        "toks",
        F.expr("(toks * 1000000) div total").cast("bigint").alias("share_e6"),
    )
    w = sh.select(
        "source", "toks", "share_e6",
        (F.col("share_e6") * F.col("share_e6")).alias("wgt"),
    )
    z = w.agg(F.sum("wgt").cast("bigint").alias("zsum"))
    return w.crossJoin(F.broadcast(z)).select(
        "source",
        "toks",
        "share_e6",
        F.expr("(wgt * 1000000) div zsum").cast("bigint").alias("t05_share_e6"),
    )


# ---------------------------------------------------------------------------
# probability-proportional-to-size sampling
# ---------------------------------------------------------------------------

#: target sample size for the systematic PPS draw.
PPS_K = 100


@register(
    "sample_pps_systematic",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    c AS (
      SELECT doc_id, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY doc_id) AS BIGINT) AS cw,
             CAST(SUM(n_tok) OVER () AS BIGINT) AS tw
      FROM d),
    s AS (
      SELECT doc_id, n_tok, cw, GREATEST(tw // {PPS_K}, 1) AS step
      FROM c)
    SELECT doc_id, n_tok,
           CAST(cw // step - (cw - n_tok) // step AS BIGINT) AS n_hits,
           CAST((cw - n_tok) // step + 1 AS BIGINT) AS first_tick
    FROM s
    WHERE cw // step > (cw - n_tok) // step
    """,
)
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: walk the
    token-weighted cumulative axis in fixed strides of ``total/K`` and
    keep every document a stride boundary lands in — the exact,
    rng-free PPS draw (inclusion probability = token share) used for
    weighted corpus subsampling and pipeline spot-audits. Documents
    longer than one stride are hit multiple times; ``n_hits`` is the
    multiplicity (a PPS-with-replacement weight) and ``first_tick``
    the first stride index, so the sample is a complete, reproducible
    artifact rather than a bag of ids.

    Scale shape: the cumulative axis comes from ``_global_cumsum``
    (range repartition + per-partition window + broadcast offset
    table — no single-partition stage), the grand total rides the same
    broadcast, and the boundary test is per-row integer arithmetic
    (cw//step crossing compare; everything non-negative, so DuckDB's
    truncating ``//`` and Spark's ``floor`` agree). One data pass, no
    extra shuffle beyond the prefix sum itself.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens_col()).cast("bigint").alias("n_tok")
    )
    c = _global_cumsum(d, "doc_id", "doc_id", "n_tok")
    s = c.withColumn(
        "step",
        F.greatest(F.expr(f"tw div {PPS_K}").cast("bigint"), F.lit(1)),
    )
    # integer div end to end: floor(double/..) would round through a
    # 53-bit mantissa and can land on the wrong tick once cumulative
    # token counts pass 2^53 (this operator is pitched at 100 TB).
    ticks_thru = F.expr("cw div step").cast("bigint")
    ticks_before = F.expr("(cw - n_tok) div step").cast("bigint")
    return (
        s.withColumn("n_hits", ticks_thru - ticks_before)
        .withColumn("first_tick", ticks_before + 1)
        .filter(F.col("n_hits") > 0)
        .select("doc_id", "n_tok", "n_hits", "first_tick")
    )


# ---------------------------------------------------------------------------
# sorted-neighborhood dedup (SNM)
# ---------------------------------------------------------------------------

#: sliding-window width for the sorted-neighborhood method.
SNM_W = 5

#: sort-key length (normalized text prefix).
SNM_KEY_LEN = 16


@register(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH toks AS (SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(tk) - 2, 1) + 1),
               i -> array_to_string(tk[i:i+2], ' '))) AS shingle_list
      FROM toks),
    k AS (SELECT doc_id, substr(lower(text), 1, {SNM_KEY_LEN}) AS skey
          FROM documents),
    r AS (SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY skey, doc_id) AS rn
          FROM k),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(b.rn - a.rn AS BIGINT) AS rank_gap
      FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + {SNM_W}),
    exsh AS (SELECT doc_id, unnest(shingle_list) AS shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM exsh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, c.rank_gap, count(*) AS i
      FROM cand c
      JOIN exsh x ON x.doc_id = c.doc_a
      JOIN exsh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY c.doc_a, c.doc_b, c.rank_gap)
    SELECT i.doc_a, i.doc_b, i.rank_gap,
           round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) >= 0.5
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup (Hernandez-Stolfo SNM): sort the
    corpus by a blocking key (normalized 16-char text prefix), pair
    each document only with its SNM_W successors in sort order, and
    exact-Jaccard-verify the candidates — the third classical
    candidate-generation strategy next to hash blocking (LSH families)
    and all-pairs prefix filtering (dedup_jaccard_prefix). Candidate
    volume is EXACTLY n*W by construction — no skew, no quarantine
    policy needed — at the cost of missing near-dups whose sort keys
    diverge (the documented SNM trade; multi-pass with rotated keys is
    the standard mitigation).

    Scale shape: the global sort order comes from the two-phase
    ``_global_rank`` (range repartition + local windows + broadcast
    offsets — no single-partition window); the rank-distance pairing
    is a W-row integer explode equi-joined on rank (never a non-equi
    band join); verification reuses ``exact_jaccard_verify``, which
    semi-joins the corpus to candidate ids before shingling. The
    oracle states the identical semantics with a plain ROW_NUMBER.
    """
    d = load(spark, sf_dir, "documents", parallelize=True)
    k = d.select(
        "doc_id", F.substring(F.lower("text"), 1, SNM_KEY_LEN).alias("skey")
    )
    r = _global_rank(k, "skey", "doc_id").select("doc_id", "i")
    left = r.select(
        F.col("doc_id").alias("doc_a"),
        F.explode(
            F.sequence(F.col("i") + 1, F.col("i") + SNM_W)
        ).alias("tgt"),
        F.col("i").alias("ia"),
    )
    cand = left.join(
        r.select(F.col("doc_id").alias("doc_b"), F.col("i").alias("tgt")),
        "tgt",
    ).select(
        "doc_a", "doc_b", (F.col("tgt") - F.col("ia")).cast("bigint").alias(
            "rank_gap"
        )
    ).localCheckpoint()
    # ^ exactly n*W narrow rows, materialized once: exact_jaccard_verify
    # walks cand three times (ids union + two pair joins) and the final
    # rank_gap re-attach once more — without the checkpoint each walk
    # re-ran the full _global_rank + explode + rank join pipeline.
    verified = exact_jaccard_verify(d, cand.select("doc_a", "doc_b")).filter(
        F.col("jaccard") >= 0.5
    )
    return verified.join(cand, ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "rank_gap", "jaccard"
    )


# ---------------------------------------------------------------------------
# k-center diverse sampling (farthest-point coreset)
# ---------------------------------------------------------------------------

#: number of diverse exemplars selected.
KCENTER_K = 5


def _kcenter_oracle() -> str:
    """Unrolled DuckDB twin of the farthest-point traversal: identical
    integer quantization and exact squared distances, selection rank
    via ROW_NUMBER (DuckDB's arg_max rejects composite keys)."""
    ctes = [
        """x AS (
      SELECT vec_id, u.j AS j,
             CAST(floor(CAST(u.x AS DOUBLE) * 1e6) AS BIGINT) AS xq
      FROM (SELECT vec_id,
                   unnest(list_transform(embedding,
                                         (x, i) -> {'j': i, 'x': x})) AS u
            FROM embeddings))""",
        "s1 AS (SELECT MIN(vec_id) AS id FROM embeddings)",
        """m1 AS (
      SELECT x.vec_id, SUM((x.xq - e.xq) * (x.xq - e.xq)) AS d
      FROM x JOIN (SELECT x2.j, x2.xq FROM x x2 JOIN s1 ON x2.vec_id = s1.id)
               e ON x.j = e.j
      GROUP BY x.vec_id)""",
    ]
    for t in range(2, KCENTER_K + 1):
        p = t - 1
        ctes.append(f"""s{t} AS (
      SELECT vec_id AS id, d AS sel_d
      FROM (SELECT vec_id, d,
                   ROW_NUMBER() OVER (ORDER BY d DESC, vec_id) AS rn
            FROM m{p})
      WHERE rn = 1)""")
        if t < KCENTER_K:
            ctes.append(f"""m{t} AS (
      SELECT m{p}.vec_id, LEAST(m{p}.d, nd.d) AS d
      FROM m{p}
      JOIN (SELECT x.vec_id, SUM((x.xq - e.xq) * (x.xq - e.xq)) AS d
            FROM x JOIN (SELECT x2.j, x2.xq FROM x x2
                         JOIN s{t} ON x2.vec_id = s{t}.id) e
                     ON x.j = e.j
            GROUP BY x.vec_id) nd ON m{p}.vec_id = nd.vec_id)""")
    arms = ["SELECT 1 AS rank, s1.id AS vec_id, CAST(NULL AS BIGINT) AS d2_at_selection FROM s1"]
    for t in range(2, KCENTER_K + 1):
        arms.append(
            f"SELECT {t} AS rank, s{t}.id AS vec_id, "
            f"CAST(s{t}.sel_d AS BIGINT) AS d2_at_selection FROM s{t}"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    "
        + "\n    UNION ALL ".join(arms)
    )


@register("sample_kcenter_diverse", oracle=_kcenter_oracle())
def sample_kcenter_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity sampling by farthest-point traversal (the greedy
    2-approximation to the k-center problem): iteratively pick the
    vector FARTHEST (max-min exact squared distance, ties to the lower
    id) from everything selected so far — the coreset/exemplar
    selection that buys maximum embedding-space coverage per labeling
    or training slot, the diversity-side complement to
    sample_hard_negatives' difficulty sampling.

    Spark-first iterative shape (kmeans_train's family): the corpus
    stays LONG (vec_id, j, xq); each of the K-1 unrolled rounds is one
    distance pass against the SINGLE new center (joined by dimension —
    never recomputing against all centers: the running min ``d``
    carries forward) and one TakeOrdered argmax. All arithmetic is
    exact int64 (1e-6-quantized components, squared-difference sums
    bounded by 4e12 x dims), so every engine agrees bit-for-bit at any
    partitioning. At 100 TB each round is a scan + a 1-row reduce;
    K is the report size, not a data size."""
    # ARRAY-NATIVE form (the kmeans_train/_km_centmat discipline): the
    # quantized vector stays an array<bigint> column, distance to the
    # single new center is a NARROW zip_with/aggregate expression
    # against a one-row broadcast, and the running min-distance rides
    # the same materialized relation. The former long format
    # (vec_id, j, xq) paid a per-round broadcast dim-join + groupBy
    # exchange AND — never checkpointed — re-ran every prior round's
    # distance pass per report branch (O(K^2) passes). After: one
    # narrow localCheckpoint per round, zero per-round shuffles.
    # Arithmetic is unchanged: per-element floor(x*1e6) int64, exact
    # (a-b)^2 products summed in int64 (order-independent), so every
    # distance is bit-identical to the long form's groupBy sum.
    e = load(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1e6).cast("bigint"),
        ).alias("xq"),
    )

    def dist_expr() -> Column:
        return F.aggregate(
            F.zip_with(
                F.col("xq"), F.col("cq"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    s1 = e.agg(F.min("vec_id").alias("id"))
    selected = [
        s1.select(
            F.lit(1).alias("rank"),
            F.col("id").alias("vec_id"),
            F.lit(None).cast("bigint").alias("d2_at_selection"),
        )
    ]
    c1 = pts.join(
        s1.select(F.col("id").alias("vec_id")), "vec_id"
    ).select(F.col("xq").alias("cq"))
    m = (
        pts.crossJoin(F.broadcast(c1))
        .select("vec_id", "xq", dist_expr().alias("d"))
        .localCheckpoint()
    )
    for t in range(2, KCENTER_K + 1):
        st = (
            m.orderBy(F.desc("d"), F.asc("vec_id"))
            .limit(1)
            .select(
                F.col("vec_id").alias("id"),
                F.col("d").alias("sel_d"),
                F.col("xq").alias("cq"),
            )
        )
        selected.append(
            st.select(
                F.lit(t).alias("rank"),
                F.col("id").alias("vec_id"),
                F.col("sel_d").cast("bigint").alias("d2_at_selection"),
            )
        )
        if t < KCENTER_K:
            m = (
                m.crossJoin(F.broadcast(st.select("cq")))
                .select(
                    "vec_id",
                    "xq",
                    F.least("d", dist_expr()).alias("d"),
                )
                .localCheckpoint()
            )
    out = selected[0]
    for s in selected[1:]:
        out = out.unionByName(s)
    return out.select(
        F.col("rank").cast("bigint").alias("rank"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "d2_at_selection",
    )


# ---------------------------------------------------------------------------
# mixture epoch planning + capacity sharding
# ---------------------------------------------------------------------------

#: target token budget for the mixture plan (tokens in the fixture's
#: whitespace-token unit).
MIX_TOKEN_BUDGET = 500_000


def _mix_weight_sql(col: str) -> str:
    """Deterministic per-source target weight in [1, 100]: md5-derived,
    identical in both engines (stands in for a configured weights
    table)."""
    return (
        f"(('0x' || substr(md5('mixw:' || {col}), 1, 6))::BIGINT % 100) + 1"
    )


@register(
    "mix_epoch_plan",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    s AS (
      SELECT source, CAST(SUM(n_tok) AS BIGINT) AS available
      FROM tok GROUP BY source),
    w AS (
      SELECT source, available,
             CAST({_mix_weight_sql('source')} AS BIGINT) AS weight
      FROM s),
    t AS (SELECT CAST(SUM(weight) AS BIGINT) AS wsum FROM w)
    SELECT source, available, weight,
           CAST(({MIX_TOKEN_BUDGET} * weight) // t.wsum AS BIGINT)
               AS target_tokens,
           CAST((({MIX_TOKEN_BUDGET} * weight) // t.wsum) * 1000000
                // available AS BIGINT) AS epochs_e6,
           ({MIX_TOKEN_BUDGET} * weight) // t.wsum > available AS upsampled
    FROM w CROSS JOIN t
    """,
)
def mix_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture EPOCH PLAN: given per-source available tokens, a target
    weight per source, and a total token budget, compute each source's
    token allocation and repeat factor (epochs, exact millionths) —
    the concrete artifact a training run consumes ("web x0.8 epochs,
    code x2.3 epochs"), and the upsampling flag reviewers audit
    (epochs > 1 means repetition, the known memorization trade).
    One token census groupBy + a broadcast scalar weight-sum; every
    allocation is exact integer arithmetic, so the plan is
    reproducible bit-for-bit anywhere. The md5-derived weights stand
    in for the configured weights dimension (same trick as the
    sampling family's seeded draws)."""
    d = load(spark, sf_dir, "documents", parallelize=True)
    s = (
        d.select(
            "source", F.size(F.split(F.col("text"), " ")).alias("n_tok")
        )
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("available"))
    )
    weight = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mixw:"), F.col("source"))), 1, 6
            ),
            16,
            10,
        ).cast("bigint")
        % 100
        + 1
    )
    w = s.withColumn("weight", weight)
    t = w.agg(F.sum("weight").cast("bigint").alias("wsum"))
    target = F.expr(f"({MIX_TOKEN_BUDGET} * weight) div wsum")
    return w.crossJoin(F.broadcast(t)).select(
        "source",
        "available",
        "weight",
        target.cast("bigint").alias("target_tokens"),
        F.expr(
            f"(({MIX_TOKEN_BUDGET} * weight) div wsum) * 1000000"
            " div available"
        )
        .cast("bigint")
        .alias("epochs_e6"),
        (target > F.col("available")).alias("upsampled"),
    )


#: shard capacity in characters for the manifest builder.
SHARD_CAP_CHARS = 20_000


@register(
    "pack_shard_manifest",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, n_chars,
             SUM(n_chars) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cw
      FROM documents),
    assigned AS (
      SELECT doc_id, n_chars,
             CAST((cw - 1) // {SHARD_CAP_CHARS} AS BIGINT) AS shard_id
      FROM c)
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM assigned GROUP BY shard_id
    """,
)
def pack_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-sharded corpus MANIFEST (webdataset/tar-shard prep):
    documents in stable doc_id order are assigned to fixed-capacity
    shards by their cumulative END position ((cum - 1) div CAP — a
    straddling doc belongs to the shard it finishes in, so shard sizes
    hover around CAP without a sequential packer), and the manifest
    reports each shard's doc count, byte mass, and [first, last] doc
    range — exactly what a downstream loader needs to seek. The
    cumulative position comes from the two-phase ``_global_cumsum``
    (range repartition + parallel local windows), NEVER a
    single-partition window, so the same plan shards a 100 TB corpus;
    the oracle states the semantics with a plain window at fixture
    scale."""
    from metadata_extractors_api_spark.operators.quality import (
        _global_cumsum,
    )

    d = load(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", "n_chars"
    )
    c = _global_cumsum(d, "doc_id", "doc_id", "n_chars")
    assigned = c.select(
        "doc_id",
        "n_chars",
        F.expr(f"(cw - 1) div {SHARD_CAP_CHARS}").cast("bigint").alias(
            "shard_id"
        ),
    )
    return assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("shard_chars"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


@register(
    "sample_balanced_downsample",
    oracle="""
    WITH counts AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n
      FROM embeddings GROUP BY label),
    k AS (SELECT MIN(n) AS k FROM counts),
    ranked AS (
      SELECT label, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY label
               ORDER BY md5('bal9:' || CAST(vec_id AS VARCHAR)), vec_id)
                 AS rn
      FROM embeddings)
    SELECT r.label, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MIN(r.vec_id) AS BIGINT) AS first_kept
    FROM ranked r, k
    WHERE r.rn <= k.k
    GROUP BY r.label
    """,
)
def sample_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every label keeps exactly
    min-class-count rows, chosen by a seeded hash order — the
    imbalance fix applied before training a classifier on skewed
    labels, with k derived FROM THE DATA (unlike
    sample_stratified_exact's constant k). The per-label ranking is
    the WindowGroupLimit-friendly seeded-hash window (partitioned by
    label — parallel, never global), the min count is a broadcast
    1-row scalar, and the keep filter composes them; reported per
    label as (kept count, first kept id) so the oracle pins both the
    cardinality and the membership head."""
    e = load(spark, sf_dir, "embeddings", parallelize=True).select(
        "label", "vec_id"
    )
    counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    k = counts.agg(F.min("n").alias("k"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.concat(F.lit("bal9:"), F.col("vec_id").cast("string"))),
        "vec_id",
    )
    ranked = e.withColumn("rn", F.row_number().over(w))
    kept = ranked.crossJoin(F.broadcast(k)).filter(F.col("rn") <= F.col("k"))
    return kept.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.min("vec_id").cast("bigint").alias("first_kept"),
    )


#: exact sample size for the bottom-k reservoir draw.
RESERVOIR_K = 1000


@register(
    "sample_reservoir_bottomk",
    oracle=f"""
    WITH h AS (
      SELECT o_orderkey,
             md5(CAST(o_orderkey AS VARCHAR)) AS hk
      FROM orders)
    SELECT o_orderkey, hk
    FROM h
    ORDER BY hk, o_orderkey
    LIMIT {RESERVOIR_K}
    """,
)
def sample_reservoir_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-size deterministic uniform sample via bottom-k by keyed
    hash — the distributed equivalent of reservoir sampling.
    sample_hash's threshold draw yields a BINOMIAL size (±sqrt(n)
    jitter); pipelines that must emit exactly k rows (eval-set carving,
    audit panels) take the k smallest md5(key) values instead: the hash
    is a uniform permutation of keys, so the bottom-k IS a uniform
    k-subset, reproducible across engines, runs, and cluster sizes.

    Scale shape: TakeOrderedAndProject — each partition keeps a local
    k-heap and the driver merges per-partition heaps, O(n) scan +
    O(parts * k) merge, NO global sort (the naive ORDER BY ... LIMIT
    plan the oracle states). At 100 TB the same plan holds; k rows fit
    any driver."""
    o = load(spark, sf_dir, "orders", parallelize=True)
    h = o.select(
        "o_orderkey",
        F.md5(F.col("o_orderkey").cast("string")).alias("hk"),
    )
    return h.orderBy("hk", "o_orderkey").limit(RESERVOIR_K)


#: Character budget that saturates the importance-sampling keep
#: probability: docs at or above this length are always kept.
IMPORTANCE_CHAR_TARGET = 4096


@register(
    "sample_importance_hash",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars,
             ('0x' || substr(md5('imp|' || CAST(doc_id AS VARCHAR)), 1, 8))
               ::BIGINT % 1000000 AS u6,
             least(1000000, CAST(floor(
               CAST(length(text) AS DOUBLE) * 1000000
               / {IMPORTANCE_CHAR_TARGET}) AS BIGINT)) AS p_e6
      FROM documents)
    SELECT doc_id, source, n_chars, CAST(u6 AS BIGINT) AS u6, p_e6
    FROM d WHERE u6 < p_e6
    """,
)
def sample_importance_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance (weight-proportional Bernoulli) sampling with a
    deterministic hash draw: each document keeps with probability
    proportional to its length (capped at 1), decided by comparing a
    salted md5 draw u in [0, 1e6) against the e6-quantized keep
    probability — the "sample long documents preferentially" primitive
    a curation pipeline uses to reweight a corpus without an RNG, so
    the SAME documents are kept on every engine, run, and cluster size
    (the property sample_pps_systematic provides for systematic
    sampling, done here with independent per-row draws: no ordering,
    no prefix sum, embarrassingly parallel).

    The salt ('imp|') decorrelates this draw from every other md5
    keyed on doc_id in the pipeline — without it, downstream hash
    gates would keep exactly the same documents and silently compound
    selection bias.

    Scale shape: one zero-shuffle filter pass; at 100 TB the keep
    decision runs inside the scan's codegen stage."""
    d = load(spark, sf_dir, "documents", parallelize=True)
    u6 = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("imp|"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000000
    )
    p_e6 = F.least(
        F.lit(1000000).cast("bigint"),
        F.floor(
            F.length("text").cast("double")
            * 1000000
            / IMPORTANCE_CHAR_TARGET
        ).cast("bigint"),
    )
    return (
        d.select(
            "doc_id",
            "source",
            F.length("text").cast("bigint").alias("n_chars"),
            u6.alias("u6"),
            p_e6.alias("p_e6"),
        )
        .filter(F.col("u6") < F.col("p_e6"))
    )


#: First-fit-decreasing packing parameters: bin capacity in tokens and
#: shard fan-out (shard = doc_id % PACK_FFD_SHARDS).
PACK_FFD_CAP = 512
PACK_FFD_SHARDS = 32


@register("pack_bin_ffd")  # rows-only: FFD is inherently sequential --
# no ANSI-SQL oracle can replay per-bin state; correctness is held by
# tests/test_round6_ops.py's reference-implementation replay instead.
def pack_bin_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing sequence packing: documents shard by
    doc_id % 32, and within each shard FFD packs token counts into
    512-token bins (sort descending, place each doc into the first bin
    it fits, open a new bin otherwise; oversized docs get dedicated
    bins) -- THE packing heuristic LLM training uses to batch
    variable-length sequences with bounded waste (FFD is guaranteed
    <= 11/9 OPT + 6/9 bins). pack_concat_chunks is the split-allowed
    variant; this is the no-split variant real sample boundaries need.

    Genuinely non-SQL-expressible: each placement depends on the
    mutable fill state of every open bin, so this is the package's
    deliberate applyInPandas rung (per-shard sequential Python over
    Arrow batches) and a ROWS-ONLY registry entry -- the exact
    per-shard outputs are replayed against a pure-python reference FFD
    in the round-6 test file, and the aggregate invariants (no bin
    overfilled, bin count >= ceil(total/cap), token conservation) are
    asserted there as well.

    Scale shape: one shuffle on the shard key, then embarrassingly
    parallel per-shard packing with O(open bins) state; shard count
    scales with the cluster, bins never cross shards (manifest
    assembly joins shard outputs downstream, like pack_shard_manifest).
    Deterministic: (tokens DESC, doc_id) ordering pins every tie."""
    import pandas as pd

    d = load(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id",
        (F.col("doc_id") % PACK_FFD_SHARDS).cast("int").alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["tokens", "doc_id"], ascending=[False, True]
        )
        fills: list = []
        out_bin = []
        for t in pdf["tokens"]:
            t = int(t)
            placed = None
            if t < PACK_FFD_CAP:
                for i, f in enumerate(fills):
                    if f + t <= PACK_FFD_CAP:
                        placed = i
                        break
            if placed is None:
                fills.append(t)
                placed = len(fills) - 1
            else:
                fills[placed] += t
            out_bin.append(placed)
        pdf = pdf.assign(bin_id=out_bin)
        return pdf[["shard", "doc_id", "tokens", "bin_id"]]

    return d.groupBy("shard").applyInPandas(
        pack, "shard int, doc_id long, tokens bigint, bin_id int"
    )


#: Total sample budget allocated by sample_stratified_neyman.
NEYMAN_BUDGET = 100


@register(
    "sample_stratified_neyman",
    oracle=f"""
    WITH m AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(length(text) AS BIGINT)
                      * CAST(length(text) AS BIGINT)) AS BIGINT) AS s2
      FROM documents GROUP BY source),
    wq AS (
      SELECT source, n_docs, s1, s2,
             CAST(floor(n_docs * sqrt(CAST(s2 AS DOUBLE) / n_docs
                        - (CAST(s1 AS DOUBLE) / n_docs)
                          * (CAST(s1 AS DOUBLE) / n_docs)) * 1e6)
                  AS BIGINT) AS w
      FROM m),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM wq),
    base AS (
      SELECT wq.source, wq.n_docs, wq.s1, wq.s2, wq.w, t.tw,
             ({NEYMAN_BUDGET} * wq.w) // t.tw AS base_n,
             {NEYMAN_BUDGET} * wq.w - (({NEYMAN_BUDGET} * wq.w) // t.tw) * t.tw
               AS rem
      FROM wq CROSS JOIN tot t),
    leftover AS (
      SELECT CAST({NEYMAN_BUDGET} - SUM(base_n) AS BIGINT) AS r FROM base),
    rk AS (
      SELECT base.*,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rnk
      FROM base)
    SELECT rk.source, rk.n_docs,
           round(sqrt(CAST(rk.s2 AS DOUBLE) / rk.n_docs
                 - (CAST(rk.s1 AS DOUBLE) / rk.n_docs)
                   * (CAST(rk.s1 AS DOUBLE) / rk.n_docs)), 6) AS sigma,
           CAST(rk.base_n + CASE WHEN rk.rnk <= lo.r THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM rk CROSS JOIN leftover lo
    """,
)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sampling design: given a total
    budget of 100 samples over the source strata, allocate
    n_h proportional to N_h * sigma_h (stratum size times its
    population std-dev of document length) — the variance-optimal
    allocation for estimating a corpus mean, and the design table a
    curation pipeline computes BEFORE drawing (the draw itself is
    sample_stratified_exact's job).

    Exact integerization: stratum weights quantize to e6 int64
    (identical double tree both sides, floored once), the base
    allocation is integer division of an integer product, and the
    leftover seats distribute by LARGEST REMAINDER — remainders are
    exact integers (B*w - base*W), so the apportionment (and its
    tie-break by source) is integer-deterministic in both engines and
    sums exactly to the budget.

    Scale shape: one map-side-combinable moments groupBy over the
    corpus; everything downstream lives on the STRATA relation
    (source-domain-sized). The remainder rank is a global window over
    that bounded domain — allowlisted like the other domain-grain
    windows."""
    d = load(spark, sf_dir, "documents", parallelize=True)
    nc = F.length("text").cast("bigint")
    # Strata-domain-sized moments with four downstream walks (tot,
    # base, leftover, rank) that each re-ran the corpus groupBy without
    # this checkpoint (4 parquet scans measured); everything below it
    # is source-domain-sized.
    m = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(nc).cast("bigint").alias("s1"),
        F.sum(nc * nc).cast("bigint").alias("s2"),
    ).localCheckpoint()
    sigma_expr = (
        "sqrt(CAST(s2 AS DOUBLE) / n_docs"
        " - (CAST(s1 AS DOUBLE) / n_docs) * (CAST(s1 AS DOUBLE) / n_docs))"
    )
    wq = m.withColumn(
        "w",
        F.expr(f"CAST(floor(n_docs * {sigma_expr} * 1e6) AS BIGINT)"),
    )
    tot = wq.agg(F.sum("w").cast("bigint").alias("tw"))
    base = wq.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "s1",
        "s2",
        F.expr(f"({NEYMAN_BUDGET} * w) div tw").alias("base_n"),
        F.expr(
            f"{NEYMAN_BUDGET} * w - (({NEYMAN_BUDGET} * w) div tw) * tw"
        ).alias("rem"),
    )
    leftover = base.agg(
        (F.lit(NEYMAN_BUDGET) - F.sum("base_n")).cast("bigint").alias("r")
    )
    rk = base.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("rem"), "source"))
    )
    return rk.crossJoin(F.broadcast(leftover)).select(
        "source",
        "n_docs",
        F.round(F.expr(sigma_expr), 6).alias("sigma"),
        (
            F.col("base_n")
            + F.when(F.col("rnk") <= F.col("r"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    )


#: mix_domain_reweight constants: learning-rate numerator over an e6
#: denominator (eta = 0.5), and the number of multiplicative-weights
#: steps both engines unroll. Integer bound: w_e6 <= 1e6 and factor
#: <= 2e6, so a step's unnormalized weight <= 2e12 — int64-safe with
#: 6 orders of margin.
REWEIGHT_ETA_E6 = 500_000
REWEIGHT_STEPS = 3
#: Loud refusal bound on the driver-collected source domain (the
#: MARKOV_COLLECT_CAP / VOC_COLLECT_CAP discipline): sources are a
#: curation-config-sized set; a corpus claiming more than this many is
#: degenerate and must not melt the driver.
REWEIGHT_COLLECT_CAP = 1 << 14


@register(
    "mix_domain_reweight",
    oracle=f"""
    WITH s AS MATERIALIZED (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS toks
      FROM documents GROUP BY source),
    tot AS MATERIALIZED (
      SELECT CAST(SUM(toks) AS BIGINT) AS toks_all,
             CAST(COUNT(*) AS BIGINT) AS n_src
      FROM s),
    ex AS MATERIALIZED (
      SELECT s.source, s.n_docs, s.toks,
             CAST(s.toks * 1000000 // s.n_docs AS BIGINT) AS mean_len_e6,
             CAST(greatest(
               s.toks * 1000000 // s.n_docs
               - (SELECT SUM(toks) FROM s) * 1000000 // (SELECT SUM(n_docs) FROM s),
               0) AS BIGINT) AS excess_e6
      FROM s),
    exn AS MATERIALIZED (
      SELECT *,
             CAST(excess_e6 * 1000000
                  // greatest((SELECT MAX(excess_e6) FROM ex), 1)
                  AS BIGINT) AS excess_n_e6
      FROM ex),
    w0 AS MATERIALIZED (
      SELECT source, CAST(1000000 // (SELECT n_src FROM tot) AS BIGINT) AS w_e6
      FROM exn),
    {','.join(f'''
    u{k} AS MATERIALIZED (
      SELECT w.source,
             CAST(w.w_e6 * (1000000 + {REWEIGHT_ETA_E6} * e.excess_n_e6 // 1000000)
                  // 1000 AS BIGINT) AS wu
      FROM w{k - 1} w JOIN exn e ON e.source = w.source),
    w{k} AS MATERIALIZED (
      SELECT source,
             CAST(wu * 1000000 // (SELECT SUM(wu) FROM u{k}) AS BIGINT) AS w_e6
      FROM u{k})''' for k in range(1, REWEIGHT_STEPS + 1))}
    SELECT e.source, e.n_docs, e.toks, e.mean_len_e6, e.excess_n_e6,
           w.w_e6 AS w_final_e6
    FROM exn e JOIN w{REWEIGHT_STEPS} w ON w.source = e.source
    """,
)
def mix_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting: starting from uniform domain
    weights, run REWEIGHT_STEPS multiplicative-weights updates
    w <- normalize(w * (1 + eta * excess)) where a domain's excess
    signal is its max-normalized positive deviation of mean document
    length from the corpus mean — the deterministic stand-in for the
    proxy-model excess loss DoReMi (Xie et al. 2023) computes per
    domain (the container has no trained models; the UPDATE RULE is
    the operator, the signal column is pluggable).

    Everything is exact int64 fixed-point (e6 units): the per-step
    factor (1 + eta*excess) and the renormalization both use integer
    floor division, so Spark and DuckDB agree bitwise with no exp()/
    libm dependence — the same portability discipline as
    mix_temperature_sampling's T=1/2 choice.

    Scale shape: ONE corpus scan builds the per-source token/doc
    rollup (map-side combinable); every subsequent step operates on
    the SOURCE-domain relation (a handful of rows at any corpus size)
    with 1-row normalizer broadcasts — the iterative chain costs
    nothing at 100 TB because it never touches the corpus again."""
    d = load(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(tokens_col())).cast("bigint").alias("toks"),
    )
    tot = s.agg(
        F.sum("toks").cast("bigint").alias("toks_all"),
        F.sum("n_docs").cast("bigint").alias("docs_all"),
        F.count(F.lit(1)).cast("bigint").alias("n_src"),
    )
    ex = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "toks",
        F.expr("toks * 1000000 div n_docs").cast("bigint").alias("mean_len_e6"),
        F.expr(
            "greatest(toks * 1000000 div n_docs"
            " - toks_all * 1000000 div docs_all, 0)"
        )
        .cast("bigint")
        .alias("excess_e6"),
        "n_src",
    )
    exmax = ex.agg(F.max("excess_e6").alias("emax"))
    exn = (
        ex.crossJoin(F.broadcast(exmax))
        .select(
            "source",
            "n_docs",
            "toks",
            "mean_len_e6",
            F.expr("excess_e6 * 1000000 div greatest(emax, 1)")
            .cast("bigint")
            .alias("excess_n_e6"),
            "n_src",
        )
        .localCheckpoint()
    )
    # The multiplicative-weights chain operates on the SOURCE-domain
    # relation (a handful of rows at any corpus size), yet the former
    # unrolled relational loop consumed each round's update twice (the
    # normalizer agg + the next round), doubling the plan per step —
    # 46 RDD re-walks / 861 plan lines / 58 Exchange at
    # REWEIGHT_STEPS=3. The domain rows are collected under a loud cap
    # (the MARKOV_COLLECT_CAP / VOC_COLLECT_CAP discipline) and the
    # EXACT integer iteration replays in Python — w*(1e6 + eta*excess
    # div 1e6) div 1000, z = sum, w = wu*1e6 div zsum, all floor
    # divisions on the same int64-ranged values — bit-identical to the
    # relational rounds; the final report join stays IN SPARK.
    dom_rows = exn.select("source", "excess_n_e6", "n_src").limit(
        REWEIGHT_COLLECT_CAP + 1
    ).collect()
    if len(dom_rows) > REWEIGHT_COLLECT_CAP:
        raise ValueError(
            f"source domain exceeds REWEIGHT_COLLECT_CAP="
            f"{REWEIGHT_COLLECT_CAP}; refusing driver collect "
            "(degenerate source domain)"
        )
    n_src = dom_rows[0]["n_src"] if dom_rows else 0
    wmap = {r["source"]: 1_000_000 // n_src for r in dom_rows}
    exmap = {r["source"]: r["excess_n_e6"] for r in dom_rows}
    for _ in range(REWEIGHT_STEPS):
        wu = {
            src: wmap[src]
            * (1_000_000 + REWEIGHT_ETA_E6 * exmap[src] // 1_000_000)
            // 1000
            for src in wmap
        }
        zsum = sum(wu.values())
        wmap = {src: wu[src] * 1_000_000 // zsum for src in wu}
    wdf = spark.createDataFrame(
        [(src, wmap[src]) for src in sorted(wmap)],
        "source string, w_final_e6 bigint",
    )
    return exn.select(
        "source", "n_docs", "toks", "mean_len_e6", "excess_n_e6"
    ).join(F.broadcast(wdf), "source")


# --- consistent-hash output sharding ----------------------------------------
#
# At 100 TB the curated corpus ships to N downstream shards (tokenizer
# workers, storage buckets, training hosts). Modular hashing re-maps
# ~100% of keys when N changes; a consistent-hash ring with virtual
# nodes re-maps only ~1/N — the property that makes incremental shard
# topology changes affordable. The ring (SHARD_N shards x SHARD_VNODES
# virtual nodes, md5-positioned on a 32-bit circle) is generated ONCE
# in Python below and embedded as literals in BOTH engines (the HLL
# linear-counting-LUT discipline), so assignment is a pure column
# expression: successor lookup = array_min over the filtered position
# list, zero joins, zero shuffles until the final per-shard rollup.
SHARD_N = 8
SHARD_VNODES = 16


def _ring() -> list[tuple[int, int]]:
    """(position, shard) ring points, collision-checked and sorted."""
    import hashlib

    pts = []
    for s in range(SHARD_N):
        for v in range(SHARD_VNODES):
            h = hashlib.md5(f"ring:{s}:{v}".encode()).hexdigest()[:8]
            pts.append((int(h, 16), s))
    positions = [p for p, _ in pts]
    assert len(set(positions)) == len(positions), "ring position collision"
    return sorted(pts)


_RING = _ring()
_RING_ARR_SQL = "[" + ", ".join(str(p) for p, _ in _RING) + "]"
_RING_WRAP = _RING[0][0]  # smallest position (wrap target)


def _ring_case_sql(succ: str) -> str:
    """128-branch CASE mapping a successor position to its shard id —
    identical text in both engines."""
    branches = " ".join(f"WHEN {p} THEN {s}" for p, s in _RING)
    return f"CASE {succ} {branches} END"


def _shard_col(key: F.Column) -> F.Column:
    """Consistent-hash shard for a string key column: md5-prefix the
    key onto the 32-bit circle, then a sorted-ascending CASE chain —
    first ring position >= h wins, falling through to the wrap (the
    smallest position's shard). One codegen-able expression: h is a
    single md5/conv subexpression and every branch is one long
    comparison, so whole-stage codegen evaluates the hash once and
    short-circuits the chain. (Two rejected forms, both measured: a
    when-chain keyed on the successor POSITION re-evaluated its
    array-min subexpression per branch, and a higher-order
    filter/size scan runs INTERPRETED per row — 5-10x slower on the
    600k-row streaming path.)"""
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    out = F.when(h <= _RING[0][0], F.lit(_RING[0][1]))
    for p, s in _RING[1:]:
        out = out.when(h <= p, F.lit(s))
    return out.otherwise(F.lit(_RING[0][1])).cast("bigint")


def _shard_oracle_sql(key_sql: str, table: str, keyname: str) -> str:
    """DuckDB rendering of ring assignment + per-shard rollup for key
    expression ``key_sql`` over ``table`` — shared by the batch doc
    router and the streaming event router so the ring geometry can
    never fork between them (the cms_oracle_sql discipline)."""
    h = f"('0x' || substr(md5({key_sql}), 1, 8))::BIGINT"
    succ = (
        f"coalesce(list_min(list_filter({_RING_ARR_SQL}, "
        f"x -> x >= {h})), {_RING_WRAP})"
    )
    return f"""
    WITH a AS (
      SELECT {_ring_case_sql(succ)} AS shard
      FROM {table}),
    g AS (
      SELECT CAST(shard AS BIGINT) AS shard,
             CAST(COUNT(*) AS BIGINT) AS n_{keyname}
      FROM a GROUP BY 1),
    t AS (SELECT CAST(SUM(n_{keyname}) AS BIGINT) AS total FROM g)
    SELECT g.shard, g.n_{keyname},
           CAST(g.n_{keyname} * 1000000 // t.total AS BIGINT) AS pct_e6,
           CAST({SHARD_VNODES} AS BIGINT) AS n_vnodes
    FROM g, t
    """


@register(
    "shard_consistent_hash",
    oracle=_shard_oracle_sql("CAST(doc_id AS VARCHAR)", "documents", "docs"),
)
def shard_consistent_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash document routing: every doc lands on the ring
    (md5 of its id on the 32-bit circle) and is owned by the clockwise
    successor among SHARD_N x SHARD_VNODES virtual nodes; the report
    is the per-shard census with e6 load share. The property paid for
    here vs modular hashing: growing/shrinking the shard fleet remaps
    ~1/N of keys instead of ~all (tested against an independent
    Python ring in tests/test_round8_ops.py, including the remap-rate
    bound when a shard is added).

    Scale shape: assignment is a PURE COLUMN EXPRESSION (literal ring
    array + filter/array_min successor + generated when-chain — the
    HLL-LUT embed-in-both-engines discipline), so routing is
    whole-stage-codegen'd at scan speed with ZERO joins; the only
    shuffle is the SHARD_N-row rollup."""
    d = load(spark, sf_dir, "documents", parallelize=True)
    a = d.select(
        _shard_col(F.col("doc_id").cast("string")).alias("shard")
    )
    # SHARD_N-row census, materialized once: without the checkpoint the
    # broadcast `total` subtree re-runs the whole md5+ring scan a
    # second time (2 parquet scans in the before-plan; 1 after).
    g = a.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).localCheckpoint()
    t = g.agg(F.sum("n_docs").cast("bigint").alias("total"))
    return g.crossJoin(F.broadcast(t)).select(
        "shard",
        "n_docs",
        F.expr("n_docs * 1000000 div total").cast("bigint").alias("pct_e6"),
        F.lit(SHARD_VNODES).cast("bigint").alias("n_vnodes"),
    )
