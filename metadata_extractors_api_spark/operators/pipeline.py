"""Training-data pipeline composition operators (SURVEY.md §2.B.11
extensions, round 2): the steps a corpus pipeline runs AFTER the
per-document operators — stratified sampling, token-budget sequence
packing, and transitive dedup-group resolution.

Scale design notes:
- sample_stratified is one window pass partitioned by the stratum key:
  no collect of group sizes, no two-pass sampling.
- pack_sequences is a running sum per stream (one shuffle on the
  stream key); the bin id falls out of integer arithmetic, so packing
  100 TB of documents is exactly as parallel as a windowed sum.
- dedup_components is distributed label propagation (the Pregel/
  GraphX pattern): every step is a join + aggregate on the cluster;
  the driver only coordinates the convergence test. Dup clusters have
  tiny diameters, so it converges in a handful of rounds.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metadata_extractors_api_spark.catalog import load
from metadata_extractors_api_spark.operators.llm import (
    RRF_POOL,
    SCALE,
    _minhash_pairs_ctes,
    _rrf_fuse,
    _rrf_lex_ranked,
    _rrf_oracle,
    _sql_dot,
    cosine_from_scaled,
    dedup_minhash,
    dot_scaled,
    tokens_col,
)
from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.store import memo, scratch_dir

SAMPLE_FRACTION = 0.2
PACK_BUDGET = 2048  # tokens per packed context window


@register(
    "sample_stratified",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents)
    SELECT doc_id, lang FROM ranked
    WHERE rn <= CAST(ceil(n * {SAMPLE_FRACTION}) AS BIGINT)
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sampling: ceil(20%) of every lang stratum,
    selected deterministically by md5 rank (reproducible across runs
    and engines, unlike rand()-based sampleBy). One window pass
    partitioned by the stratum — the per-stratum quota needs no
    driver-side group-size collection, so it holds at any stratum
    count. The per-class twin of sample_hash's global Bernoulli form."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    n = Window.partitionBy("lang")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(n))
        .filter(F.col("rn") <= F.ceil(F.col("n") * F.lit(SAMPLE_FRACTION)))
        .select("doc_id", "lang")
    )


@register(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             len(str_split(text, ' ')) AS n_tok
      FROM documents),
    r AS (
      SELECT doc_id, lang, n_tok,
             SUM(n_tok) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM t)
    SELECT doc_id, lang, CAST(n_tok AS INT) AS n_tok,
           CAST(floor((run - n_tok) / {PACK_BUDGET}.0) AS BIGINT) AS bin_id
    FROM r
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: assign each document to a
    fixed-budget context-window bin within its lang stream — the
    sharding step that turns a corpus into training sequences. The bin
    id is floor(start_offset / budget) over a running token sum, so
    packing is a windowed sum (one shuffle on the stream key) with no
    sequential driver loop; contiguous-by-doc_id keeps it deterministic
    and restartable at any scale."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.size(tokens_col()).alias("n_tok"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.select(
        "doc_id",
        "lang",
        F.col("n_tok").cast("int").alias("n_tok"),
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(float(PACK_BUDGET)))
        .cast("bigint")
        .alias("bin_id"),
    )


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_minhash_pairs_ctes().strip().removeprefix("WITH ")},
    nodes AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM mh_pairs
        UNION ALL SELECT doc_b FROM mh_pairs)),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM mh_pairs
      UNION ALL SELECT doc_b, doc_a FROM mh_pairs),
    walk(u, lbl) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v)
    SELECT u AS doc_id, MIN(lbl) AS component_id
    FROM walk GROUP BY u
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup-group resolution: connected components over the
    minhash near-dup pairs (A~B, B~C => one group even when A~C never
    met in a bucket) — the step a real dedup pipeline needs between
    pairing and keeper selection. Distributed min-label propagation
    (the Pregel pattern): each round joins labels across edges and
    keeps the minimum; the driver only tests convergence (one count
    per round — the data never leaves the cluster). localCheckpoint
    truncates the iterative lineage; on a real cluster use reliable
    checkpointing. The oracle recomputes the same components with a
    recursive min-label walk over the identically generated pairs."""
    # Materialize the verified pairs BEFORE the two-orientation union:
    # pairs feeds both union branches, so without its own checkpoint the
    # whole minhash exact-verify pipeline (2 corpus passes) runs twice
    # just to flip (u, v). The pair set is report-shaped.
    pairs = (
        dedup_minhash(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    )
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("u").alias("doc_id"))
        .distinct()
        .withColumn("lbl", F.col("doc_id"))
        .localCheckpoint()
    )
    # Round = ONE edge join + one union-min groupBy (the former shape
    # added a second per-round join to re-attach old labels before
    # taking the least). min(own lbl, min neighbor lbl) via the union
    # is the identical update rule, so per-round labels are unchanged.
    # Convergence witness: labels only ever DECREASE pointwise under
    # min-propagation, so sum(lbl) is strictly monotone until the
    # fixpoint — sum unchanged <=> no label changed — replacing the
    # old join-compare-count with one narrow agg per round over the
    # checkpointed labels.
    lbl_sum = F.sum(F.col("lbl").cast("decimal(38,0)"))  # overflow-proof
    prev_sum = labels.agg(lbl_sum).collect()[0][0]
    for _ in range(20):
        labels = (
            edges.join(labels, edges.v == labels.doc_id)
            .select(F.col("u").alias("doc_id"), "lbl")
            .unionByName(labels.select("doc_id", "lbl"))
            .groupBy("doc_id")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
        new_sum = labels.agg(lbl_sum).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select("doc_id", F.col("lbl").alias("component_id"))


# --- distributed k-means (iterative algorithm on DataFrames) ---------------
#
# Long-format formulation: points exploded to (vec_id, dim, scaled_int)
# rows, so assignment is a join+groupBy and the centroid update is a
# groupBy mean — every step an ordinary shuffle, no per-dimension code
# generation, any dimensionality. Exactness: coordinates quantized to
# floor(x * 2^24) int64 (|x| < 0.58 in the fixture; diff^2 * 64 dims
# stays under 2^55), centroid means floored after one exact IEEE
# division, inertia integer-shifted down 24 bits before the final sum
# so it also stays in exact int64 range. Every op is therefore
# bit-identical across engines and the WHOLE 2-iteration training loop
# is oracle-checked by an unrolled DuckDB CTE chain.
KM_K = 4
KM_ITERS = 2
KM_SCALE = 1 << 24
KM_SHRINK = 1 << 24


def _km_dist_cte(name: str, cent: str) -> str:
    return f"""{name} AS (
      SELECT p.vec_id, c.cluster,
             SUM((p.xs - c.c) * (p.xs - c.c)) AS dist
      FROM pts p JOIN {cent} c ON p.d = c.d
      GROUP BY 1, 2)"""


def _km_assign_cte(name: str, dist: str) -> str:
    return f"""{name} AS (
      SELECT vec_id, cluster, dist FROM (
        SELECT vec_id, cluster, dist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM {dist})
      WHERE rn = 1)"""


def _km_update_cte(name: str, assign: str) -> str:
    return f"""{name} AS (
      SELECT a.cluster, p.d,
             CAST(floor(CAST(SUM(p.xs) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
      FROM {assign} a JOIN pts p ON p.vec_id = a.vec_id
      GROUP BY 1, 2)"""


def _km_chain(k_sql: str | None = None) -> tuple[str, str, str]:
    """The unrolled training chain shared by every consumer of the
    trained model: returns (CTE list from pts through the final
    assignment, final-distance CTE name, final-assignment CTE name).
    ``k_sql`` overrides the centroid count — a SQL expression (scalar
    subquery allowed) in place of the fixed KM_K; the SemDeDup chain
    passes the data-adaptive ceil(N / SEM_TARGET_CLUSTER)."""
    iters = []
    cent = "c0"
    for i in range(1, KM_ITERS + 1):
        iters += [
            _km_dist_cte(f"d{i}", cent),
            _km_assign_cte(f"a{i}", f"d{i}"),
            _km_update_cte(f"c{i}", f"a{i}"),
        ]
        cent = f"c{i}"
    final = KM_ITERS + 1
    iters += [
        _km_dist_cte(f"d{final}", cent),
        _km_assign_cte(f"a{final}", f"d{final}"),
    ]
    chain = ",\n    ".join(iters)
    k_expr = str(KM_K) if k_sql is None else k_sql
    prefix = f"""pts AS (
      SELECT vec_id, i AS d,
             CAST(floor(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS xs
      FROM (SELECT vec_id,
                   generate_subscripts(embedding, 1) AS i,
                   unnest(embedding) AS x
            FROM embeddings)),
    c0 AS (SELECT vec_id - 1 AS cluster, d, xs AS c
           FROM pts WHERE vec_id BETWEEN 1 AND {k_expr}),
    {chain}"""
    return prefix, f"d{final}", f"a{final}"


def _kmeans_oracle() -> str:
    chain, _dist, assign = _km_chain()
    k, pk = KM_ITERS, KM_ITERS - 1
    prev = f"c{pk}" if pk > 0 else "c0"
    return f"""
    WITH {chain},
    kres AS (
      SELECT CAST(SUM(ABS(a.c - b.c)) AS BIGINT) AS residual_units
      FROM c{k} a JOIN {prev} b
        ON b.cluster = a.cluster AND b.d = a.d)
    SELECT CAST(cluster AS BIGINT) AS cluster, COUNT(*) AS n,
           CAST(SUM(dist // {KM_SHRINK}) AS BIGINT) AS inertia_scaled,
           (SELECT residual_units FROM kres) AS residual_units
    FROM {assign}
    GROUP BY cluster
    """


def _km_pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings as (vec_id, xs array<bigint>) with exact-int64
    quantized coordinates, materialized once for the iteration loop.

    Array-native form (was long (vec_id, d, xs)): every per-round
    distance/argmin becomes a NARROW zip_with/aggregate expression over
    the row's own array instead of a per-dimension join + keyed
    aggregation + window, cutting the Lloyd round from ~4 exchanges to
    the single centroid-update groupBy. Same exact integer arithmetic,
    bit-identical assignments."""
    e = load(spark, sf_dir, "embeddings", parallelize=True)
    return e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(float(KM_SCALE))).cast(
                "bigint"
            ),
        ).alias("xs"),
    ).localCheckpoint()  # reused by every round: compute once


def _km_sqdist(xs, cs):
    """Exact int64 squared distance between two quantized arrays."""
    return F.aggregate(
        F.zip_with(xs, cs, lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _km_centmat(cent: DataFrame) -> DataFrame:
    """The centroid table folded to ONE row (cents: array<struct<
    cluster, cs>>, cluster-sorted) — the same K*D values the long-form
    chain broadcast as the per-dimension join's build side, shipped
    once per round so the distance/argmin pass is shuffle-free."""
    return cent.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("cluster", "cs"))
        ).alias("cents")
    )


def _km_cdists(xs_col):
    """Per-row (dist, cluster) struct array against the broadcast
    centroid matrix column `cents`; struct field order makes
    array_sort/min ORDER BY dist, cluster — row_number()=1 semantics
    exactly (ties to the lowest cluster id)."""
    return F.transform(
        "cents",
        lambda c: F.struct(
            _km_sqdist(xs_col, c["cs"]).alias("dist"),
            c["cluster"].alias("cluster"),
        ),
    )


def _km_dist(pts: DataFrame, cent: DataFrame) -> DataFrame:
    """Exact squared distance of every point to every centroid —
    a narrow explode over the broadcast centroid matrix."""
    return (
        pts.crossJoin(F.broadcast(_km_centmat(cent)))
        .select("vec_id", F.explode(_km_cdists(F.col("xs"))).alias("cd"))
        .select(
            "vec_id",
            F.col("cd.cluster").alias("cluster"),
            F.col("cd.dist").alias("dist"),
        )
    )


def _km_assign(pts: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (ties to the lowest cluster id) —
    a shuffle-free argmin via array_min over the (dist, cluster)
    struct array."""
    best = F.array_min(_km_cdists(F.col("xs")))
    return (
        pts.crossJoin(F.broadcast(_km_centmat(cent)))
        .select("vec_id", "xs", best.alias("b"))
        .select(
            "vec_id",
            "xs",
            F.col("b.cluster").alias("cluster"),
            F.col("b.dist").alias("dist"),
        )
    )


def _km_train(pts: DataFrame, with_prev: bool = False, k: int = KM_K):
    """KM_ITERS Lloyd rounds from the deterministic init (vec_id 1..k);
    returns the trained centroid table (cluster, cs array<bigint>), or
    the pair (cent, prev_cent) when ``with_prev`` — the penultimate
    iterate feeds kmeans_train's convergence witness.

    Each round is ONE exchange: the shuffle-free argmin assignment
    (xs rides along) feeding a per-cluster collect_list fold —
    element-wise int64 sums are order-independent, and the update mean
    replays floor(CAST(sum AS DOUBLE) / count) per dimension exactly
    as the long-form groupBy did. Cluster population is bounded by
    design (K scales with N), so the per-group list is bounded."""
    cent = pts.filter(F.col("vec_id").between(1, k)).select(
        (F.col("vec_id") - 1).alias("cluster"), F.col("xs").alias("cs")
    )
    prev = cent
    zero = F.array_repeat(
        F.lit(0).cast("bigint"), F.size(F.element_at("vs", 1))
    )
    sums = F.aggregate(
        F.col("vs"), zero, lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b)
    )
    for _ in range(KM_ITERS):
        a = _km_assign(pts, cent)
        prev = cent
        cent = (
            a.groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_list("xs").alias("vs"),
            )
            .select(
                "cluster",
                F.transform(
                    sums, lambda s: F.floor(s / F.col("n")).cast("bigint")
                ).alias("cs"),
            )
        )
    return (cent, prev) if with_prev else cent


@register("kmeans_train", oracle=_kmeans_oracle())
def kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means training (Lloyd's algorithm) as DataFrame
    iterations — the trained-centroid path that sim_ann_ivf's fixed
    centroids stand in for. Long-format points make every step a
    join + groupBy (no per-dimension expressions, any D); two
    assignment/update rounds from a deterministic init (vec_id 1..K),
    then a final assignment reporting per-cluster size and scaled
    inertia. All arithmetic is exact int64 (see module notes), so the
    ENTIRE training loop hash-matches the unrolled recursive oracle.
    The iteration count is fixed (the oracle unrolls it), so the
    report carries a CONVERGENCE WITNESS: residual_units = total
    centroid movement |c_K - c_(K-1)| over every (cluster, d) cell in
    exact quantized units — horizon under-convergence on bigger data
    is an output value the oracle must match, not a silent error."""
    pts = _km_pts(spark, sf_dir)
    cent, prev = _km_train(pts, with_prev=True)
    res = (
        cent.join(F.broadcast(prev.withColumnsRenamed({"cs": "pcs"})), "cluster")
        .select(
            F.aggregate(
                F.zip_with(
                    "cs", "pcs", lambda a, b: F.abs(a - b)
                ),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).alias("m")
        )
        .agg(F.sum("m").cast("bigint").alias("residual_units"))
    )
    final = _km_assign(pts, cent)
    return (
        final.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr(f"dist div {KM_SHRINK}")).alias("inertia_scaled"),
        )
        .crossJoin(F.broadcast(res))
    )


@register(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text,
           CAST(length(text) - length(trim(regexp_replace(regexp_replace(
                lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
               AS BIGINT) AS n_removed
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization: lowercase, strip non-alphanumerics, collapse
    whitespace — the canonical pre-dedup/pre-tokenize cleanup pass.
    Pure column expressions (codegen'd, no UDF); emits the removed-char
    count so cleanup aggressiveness is auditable downstream."""
    d = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        (F.length("text") - F.length(norm)).cast("bigint").alias("n_removed"),
    )


@register(
    "dedup_apply",
    oracle=f"""
    WITH RECURSIVE {_minhash_pairs_ctes().strip().removeprefix("WITH ")},
    nodes AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM mh_pairs
        UNION ALL SELECT doc_b FROM mh_pairs)),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM mh_pairs
      UNION ALL SELECT doc_b, doc_a FROM mh_pairs),
    walk(u, lbl) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v),
    comp AS (SELECT u AS doc_id, MIN(lbl) AS component_id
             FROM walk GROUP BY u),
    drops AS (SELECT doc_id FROM comp WHERE doc_id <> component_id)
    SELECT d.lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept
    FROM documents d LEFT JOIN drops dr ON d.doc_id = dr.doc_id
    GROUP BY d.lang
    """,
)
def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup application: resolve transitive near-dup groups
    (dedup_components), keep each group's min-doc_id keeper, drop the
    rest, and report the per-lang before/after counts — the audit row a
    production dedup run ships with. The drop set is dim-sized relative
    to the corpus, so the anti-join broadcasts at any scale."""
    comp = dedup_components(spark, sf_dir)
    drops = comp.filter(F.col("doc_id") != F.col("component_id")).select("doc_id")
    d = load(spark, sf_dir, "documents")
    kept = d.join(drops, "doc_id", "left_anti")
    before = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    after = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))
    return before.join(after, "lang", "left").select(
        "lang",
        "n_docs",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
    )


# --- trained-centroid IVF search (k-means model -> ANN index) --------------
#
# sim_ann_ivf partitions the corpus by its nearest of 8 FIXED
# hyperplane-derived centroids; this is the promised trained slot: the
# same materialized-index + partition-pruned-probe topology, but the
# centroids come out of the k-means loop above, so the partitioning
# adapts to the data distribution. Because training is exact int64,
# the whole model -> index -> probe path hash-matches one generated
# DuckDB statement (train chain reused verbatim from the kmeans
# oracle).
IVF_TRAINED_NPROBE = 2


def _ivf_trained_oracle() -> str:
    chain, dist, assign = _km_chain()
    dot = _sql_dot("e.embedding", "q.qe")
    nn = _sql_dot("e.embedding", "e.embedding")
    return f"""
    WITH {chain},
    qsel AS (
      SELECT cluster FROM (
        SELECT cluster, row_number() OVER (ORDER BY dist, cluster) AS rn
        FROM {dist} WHERE vec_id = 0)
      WHERE rn <= {IVF_TRAINED_NPROBE}),
    q AS (SELECT embedding AS qe,
                 {_sql_dot('embedding', 'embedding')} AS qn
          FROM embeddings WHERE vec_id = 0),
    probe AS (
      SELECT e.vec_id, e.label,
             ({dot} / 1e12)
             / (sqrt({nn} / 1e12) * sqrt(q.qn / 1e12)) AS cos
      FROM embeddings e
      JOIN {assign} a ON a.vec_id = e.vec_id
      CROSS JOIN q
      WHERE a.cluster IN (SELECT cluster FROM qsel))
    SELECT vec_id, label, CAST(floor(cos * 1e6) AS BIGINT) AS score_e6
    FROM probe
    ORDER BY cos DESC, vec_id
    LIMIT 10
    """


def _ivf_trained_index(spark: SparkSession, sf_dir: str):
    """Build-or-reuse the trained IVF index (memoized per session):
    k-means model -> cluster-partitioned parquet write, plus the
    query's probed-cluster list and memoized 1-row query vector.
    Shared by sim_ann_ivf_trained and sim_hybrid_rrf_ann."""

    def build() -> dict:
        pts = _km_pts(spark, sf_dir)
        cent = _km_train(pts)
        assign = _km_assign(pts, cent).select("vec_id", "cluster")
        e = load(spark, sf_dir, "embeddings", parallelize=True)
        path = scratch_dir("ann_ivft_idx_")
        (
            e.join(assign, "vec_id")
            .repartition("cluster")
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(path)
        )
        dist0 = (
            _km_dist(pts.filter(F.col("vec_id") == 0), cent)
            .select("cluster", "dist")
            .collect()
        )
        probe = [
            r["cluster"]
            for r in sorted(dist0, key=lambda r: (r["dist"], r["cluster"]))
        ][:IVF_TRAINED_NPROBE]
        q = (
            load(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == 0)
            .select(
                "embedding",
                dot_scaled(F.col("embedding"), F.col("embedding")).alias("nn"),
            )
            .collect()[0]
        )
        return {"path": path, "probe": probe, "emb": q["embedding"], "qn": q["nn"]}

    st = memo(spark, ("ann_ivf_trained", sf_dir), build)
    idx_df = memo(
        spark, ("ann_ivf_trained_df", sf_dir), lambda: spark.read.parquet(st["path"])
    )
    return st, idx_df


@register("sim_ann_ivf_trained", oracle=_ivf_trained_oracle())
def sim_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search over a TRAINED inverted file: k-means centroids from
    the exact-int64 Lloyd loop assign every vector a cluster, the
    corpus is written partitioned by that cluster id (one-off build,
    memoized per session), and the query probes its
    IVF_TRAINED_NPROBE nearest clusters as a partition-pruned scan
    with exact cosine ranking inside. Train/assign/probe distances are
    all exact integer arithmetic, so model AND search hash-match the
    generated oracle end to end. At scale the index build is one
    training job plus one partitioned write; each query then reads
    only nprobe/K of the corpus."""
    st, idx_df = _ivf_trained_index(spark, sf_dir)
    qe = F.array(*[F.lit(float(v)) for v in st["emb"]])
    cos = (
        (dot_scaled(F.col("embedding"), qe) / F.lit(SCALE))
        / (
            F.sqrt(dot_scaled(F.col("embedding"), F.col("embedding")) / F.lit(SCALE))
            * F.sqrt(F.lit(st["qn"]) / F.lit(SCALE))
        )
    )
    scored = idx_df.filter(F.col("cluster").isin(st["probe"])).select(
        "vec_id", "label", cos.alias("cos")
    )
    return (
        scored.orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
        .select(
            "vec_id",
            "label",
            F.floor(F.col("cos") * F.lit(1e6)).cast("bigint").alias("score_e6"),
        )
    )


def _ivf_rrf_oracle() -> str:
    """RRF fusion oracle with the IVF-probed dense side: the k-means
    train chain + probed-cluster selection prefix the shared RRF text,
    and the dense candidate list carries the cluster-membership join
    and probe predicate."""
    chain, dist, assign = _km_chain()
    prefix = f"""{chain},
    qsel AS (
      SELECT cluster FROM (
        SELECT cluster, row_number() OVER (ORDER BY dist, cluster) AS rn
        FROM {dist} WHERE vec_id = 0)
      WHERE rn <= {IVF_TRAINED_NPROBE}),
    """
    return _rrf_oracle(
        prefix=prefix,
        dense_join=f"JOIN {assign} ivfa ON ivfa.vec_id = en.vec_id",
        dense_where="WHERE ivfa.cluster IN (SELECT cluster FROM qsel)",
    )


@register("sim_hybrid_rrf_ann", oracle=_ivf_rrf_oracle())
def sim_hybrid_rrf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (RRF fusion) with the ANN-backed dense side —
    the swap sim_hybrid_rrf's docstring promises: the lexical
    top-RRF_POOL list is identical (shared _rrf_lex_ranked), but the
    dense list comes from the TRAINED IVF index's partition-pruned
    probe (sim_ann_ivf_trained's memoized cluster-partitioned parquet,
    scanned with a static cluster IN-list) instead of a full corpus
    pass — candidates ranked by the same exact scaled-int cosine, then
    fused by the same floor(1e9/(60+rank)) integers.

    Scale shape: at 100 TB the dense side reads nprobe/K of the corpus
    (PartitionFilters-pruned scan, plan-asserted in
    tests/test_scale_plans.py) while the brute-force twin reads all of
    it; fusion stays a full-outer join of two RRF_POOL-row relations.
    The oracle retrains the k-means chain and applies the identical
    probe predicate, so recall loss from probing is REPRODUCED, not
    hidden — the two variants' outputs differ exactly where the IVF
    probe genuinely misses."""
    lex_ranked = _rrf_lex_ranked(spark, sf_dir)
    st, idx_df = _ivf_trained_index(spark, sf_dir)
    qe = F.array(*[F.lit(float(v)) for v in st["emb"]])
    vec_top = (
        idx_df.filter(F.col("cluster").isin(st["probe"]))
        .select(
            "vec_id",
            cosine_from_scaled(
                dot_scaled(F.col("embedding"), qe),
                dot_scaled(F.col("embedding"), F.col("embedding")),
                F.lit(st["qn"]),
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(RRF_POOL)
    )
    wv = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    vec_ranked = vec_top.withColumn("vec_rank", F.row_number().over(wv)).select(
        "vec_id", "vec_rank"
    )
    return _rrf_fuse(lex_ranked, vec_ranked)


# --- integer-scaled PageRank (iterative graph algorithm) -------------------
#
# Rank mass is held as exact integer units (1e12 per node initially) and
# every update is integer arithmetic: share = (85 * (rank // deg)) // 100,
# new_rank = BASE + sum(shares-in). Integer division and BIGINT sums are
# order-independent and identical across engines, so the WHOLE 5-iteration
# computation is bit-reproducible and oracle-checked by an unrolled CTE
# chain -- float PageRank can never hash-match because IEEE summation
# order differs between engines and partitionings. Dangling nodes (no
# out-edges) simply leak their share, the standard simplification; both
# engines implement the same rule, and every node keeps the BASE floor.
PR_SCALE = 10**12
PR_BASE = 15 * PR_SCALE // 100
PR_ITERS = 5

_PR_EDGE_CTES = """
    edges AS (
      SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    nodes AS (SELECT n_nationkey AS node FROM nation),
    r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes)
""".format(scale=PR_SCALE)


def _pagerank_oracle() -> str:
    ctes = [_PR_EDGE_CTES.strip()]
    for i in range(1, PR_ITERS + 1):
        ctes.append(f"""c{i} AS (
      SELECT e.dst AS node,
             SUM((85 * (r.rank // d.deg)) // 100) AS c
      FROM edges e
      JOIN r{i - 1} r ON r.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst)""")
        ctes.append(f"""r{i} AS (
      SELECT n.node,
             CAST({PR_BASE} + COALESCE(c.c, 0) AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c{i} c ON c.node = n.node)""")
    # Convergence witness: the exact-integer L1 delta between the last
    # two iterates, replicated on every row — a fixed horizon that
    # silently under-converges at 100x shows up as a residual the
    # oracle must reproduce, not as an invisible wrong answer.
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT r.node, r.rank AS rank_units, res.residual_units
    FROM r{PR_ITERS} r CROSS JOIN (
      SELECT CAST(SUM(ABS(a.rank - b.rank)) AS BIGINT) AS residual_units
      FROM r{PR_ITERS} a JOIN r{PR_ITERS - 1} b ON b.node = a.node) res"""
    )


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer-nation -> supplier-nation trade
    graph, 5 synchronous iterations in exact integer arithmetic.

    Scale design: the Pregel/GraphX shape -- each iteration is one
    join of the edge list with the current ranks on src plus one
    aggregation onto dst, so an iteration costs exactly the shuffles
    of a join+groupBy and nothing touches the driver. Edge list and
    degrees are computed once and localCheckpoint'ed (on a cluster:
    persisted + reliably checkpointed) so the 4-way join that builds
    the graph doesn't replay per iteration; ranks are checkpointed per
    round to truncate the iterative lineage, the same discipline as
    dedup_components/kmeans_train. Because rank mass is integer units
    (see module comment), results are bit-identical on any cluster
    size -- the property that makes an iterative algorithm testable at
    100 TB. The report carries a CONVERGENCE WITNESS: residual_units =
    sum over nodes of |rank_K - rank_(K-1)| in exact integer units, so
    a fixed horizon that under-converges on bigger data is visible in
    the output (and oracle-checked) instead of silently wrong."""
    ranks, res = _trade_pagerank(spark, sf_dir)
    return ranks.crossJoin(F.broadcast(res)).select(
        "node", F.col("rank").alias("rank_units"), "residual_units"
    )


def _trade_pagerank(
    spark: SparkSession, sf_dir: str, seeds: tuple[int, ...] | None = None
) -> tuple[DataFrame, DataFrame]:
    """PR_ITERS integer power iterations over the trade graph, shared by
    graph_pagerank and graph_ppr: returns the final (node, rank) frame
    and the one-row residual_units witness. With ``seeds`` the initial
    rank units and the 15% restart go to the seed nodes only
    (personalized); without, to every node."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")

    edges = (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .join(supp, supp.s_suppkey == li.l_suppkey)
        .select(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .distinct()
        .localCheckpoint()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = edges.join(deg, "src").localCheckpoint()
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    if seeds is None:
        init, base = F.lit(PR_SCALE), F.lit(PR_BASE)
    else:
        seed_col = F.col("node").isin(*seeds)
        init = F.when(seed_col, F.lit(PR_SCALE)).otherwise(F.lit(0))
        base = F.when(seed_col, F.lit(PR_BASE)).otherwise(F.lit(0))

    ranks = nodes.withColumn("rank", init.cast("bigint"))
    prev = ranks
    for _ in range(PR_ITERS):
        contribs = (
            edges_deg.join(ranks, edges_deg.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("(85 * (rank div deg)) div 100").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        prev = ranks
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (base + F.coalesce(F.col("c"), F.lit(0)))
                .cast("bigint")
                .alias("rank"),
            )
            .localCheckpoint()
        )
    res = (
        ranks.join(prev.withColumnsRenamed({"rank": "prev_rank"}), "node")
        .agg(
            F.sum(F.abs(F.col("rank") - F.col("prev_rank")))
            .cast("bigint")
            .alias("residual_units")
        )
    )
    return ranks, res


# --- product-quantization ANN (PQ codebooks -> ADC scan) -------------------
#
# The third ANN topology next to the LSH buckets and the IVF partitions:
# compress every vector to PQ_S one-byte codes (nearest codebook entry
# per subspace), then answer queries by Asymmetric Distance Computation
# -- a lookup-table sum over the codes, never touching the raw floats.
# At 100 TB this is the memory path: 64 dims x 4 bytes become 4 code
# bytes per vector (64x), the codebook (PQ_S*PQ_K*PQ_SUBD rows) and the
# per-query distance table (PQ_S*PQ_K rows) broadcast everywhere, and
# the scan is one broadcast join + groupBy over the code table. All
# arithmetic is exact int64 on KM_SCALE-quantized coordinates, so
# training, encoding, and the ADC ranking hash-match one generated
# DuckDB statement (same regime as kmeans_train).
PQ_S = 4  # subspaces
PQ_SUBD = 16  # dims per subspace (4 x 16 = the fixture's 64)
PQ_K = 8  # codebook entries per subspace
PQ_ITERS = 1  # Lloyd refinement rounds over the deterministic init
PQ_QUERY = 0  # probe vector
PQ_TOPK = 10


def _pq_chain() -> tuple[str, str, str]:
    """Unrolled PQ training CTEs; returns (chain, codes_cte, cent_cte)."""

    def dist(name: str, cent: str) -> str:
        return f"""{name} AS (
      SELECT p.vec_id, p.s, c.cluster,
             SUM((p.xs - c.c) * (p.xs - c.c)) AS dist
      FROM pq_pts p JOIN {cent} c ON c.s = p.s AND c.d = p.d
      GROUP BY 1, 2, 3)"""

    def assign(name: str, dist_cte: str) -> str:
        return f"""{name} AS (
      SELECT vec_id, s, cluster FROM (
        SELECT vec_id, s, cluster,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist, cluster) AS rn
        FROM {dist_cte})
      WHERE rn = 1)"""

    def update(name: str, assign_cte: str) -> str:
        return f"""{name} AS (
      SELECT a.s, a.cluster, p.d,
             CAST(floor(CAST(SUM(p.xs) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
      FROM {assign_cte} a
      JOIN pq_pts p ON p.vec_id = a.vec_id AND p.s = a.s
      GROUP BY 1, 2, 3)"""

    parts = [
        f"""pq_pts AS (
      SELECT vec_id,
             (i - 1) // {PQ_SUBD} AS s,
             (i - 1) % {PQ_SUBD} AS d,
             CAST(floor(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS xs
      FROM (SELECT vec_id,
                   generate_subscripts(embedding, 1) AS i,
                   unnest(embedding) AS x
            FROM embeddings))""",
        f"""pq_c0 AS (
      SELECT vec_id - 1 AS cluster, s, d, xs AS c
      FROM pq_pts WHERE vec_id BETWEEN 1 AND {PQ_K})""",
    ]
    cent = "pq_c0"
    for i in range(1, PQ_ITERS + 1):
        parts += [
            dist(f"pq_d{i}", cent),
            assign(f"pq_a{i}", f"pq_d{i}"),
            update(f"pq_c{i}", f"pq_a{i}"),
        ]
        cent = f"pq_c{i}"
    final = PQ_ITERS + 1
    parts += [dist(f"pq_d{final}", cent), assign(f"pq_codes", f"pq_d{final}")]
    return ",\n    ".join(parts), "pq_codes", cent


def _pq_oracle() -> str:
    chain, codes, cent = _pq_chain()
    return f"""
    WITH {chain},
    qd AS (
      SELECT c.s, c.cluster, SUM((q.xs - c.c) * (q.xs - c.c)) AS qdist
      FROM pq_pts q JOIN {cent} c ON c.s = q.s AND c.d = q.d
      WHERE q.vec_id = {PQ_QUERY}
      GROUP BY 1, 2)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(adc_dist AS BIGINT) AS adc_dist FROM (
      SELECT a.vec_id, SUM(q.qdist) AS adc_dist
      FROM {codes} a JOIN qd q ON q.s = a.s AND q.cluster = a.cluster
      GROUP BY 1)
    ORDER BY adc_dist, vec_id
    LIMIT {PQ_TOPK}
    """


def _pq_pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings in PQ long format (vec_id, subspace, local dim, exact
    int64 coordinate), materialized once per (session, sf_dir)."""
    return memo(
        spark, ("ann_pq_pts", sf_dir), lambda: _pq_pts_build(spark, sf_dir)
    )


def _pq_pts_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings", parallelize=True)
    return (
        e.select("vec_id", F.posexplode("embedding").alias("i", "x"))
        .select(
            "vec_id",
            F.expr(f"i div {PQ_SUBD}").alias("s"),
            (F.col("i") % PQ_SUBD).alias("d"),
            F.floor(F.col("x").cast("double") * F.lit(float(KM_SCALE)))
            .cast("bigint")
            .alias("xs"),
        )
        .localCheckpoint()
    )


def _pq_dist(pts: DataFrame, cent: DataFrame) -> DataFrame:
    diff = F.col("xs") - F.col("c")
    return (
        pts.join(F.broadcast(cent), ["s", "d"])
        .groupBy("vec_id", "s", "cluster")
        .agg(F.sum(diff * diff).alias("dist"))
    )


def _pq_assign(pts: DataFrame, cent: DataFrame) -> DataFrame:
    w = Window.partitionBy("vec_id", "s").orderBy("dist", "cluster")
    return (
        _pq_dist(pts, cent)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "cluster")
    )


def _pq_train(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Train the PQ model: (codebook, code table), both materialized
    via localCheckpoint so repeated probes skip the Lloyd rounds."""
    pts = _pq_pts(spark, sf_dir)
    cent = pts.filter(F.col("vec_id").between(1, PQ_K)).select(
        (F.col("vec_id") - 1).alias("cluster"), "s", "d", F.col("xs").alias("c")
    )
    for _ in range(PQ_ITERS):
        a = _pq_assign(pts, cent)
        cent = (
            a.join(pts, ["vec_id", "s"])
            .groupBy("s", "cluster", "d")
            .agg(
                F.floor(F.sum("xs") / F.count(F.lit(1))).cast("bigint").alias("c")
            )
        )
    cent = cent.localCheckpoint()
    codes = _pq_assign(pts, cent).localCheckpoint()
    return cent, codes


@register("sim_ann_pq", oracle=_pq_oracle())
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: train per-subspace codebooks (PQ_ITERS
    Lloyd rounds from the deterministic vec_id 1..K init), encode every
    vector as its nearest code per subspace, and rank the corpus for
    the probe vector by Asymmetric Distance Computation -- the summed
    per-subspace distance between the query's subvectors and each
    vector's CODEWORDS. Returns the top-10 (vec_id, adc_dist).

    Scale: the trained codebook (S*K*subD rows) and the per-query
    distance table (S*K rows) are broadcast dimensions; encoding is one
    broadcast join + (vec_id, s) aggregation over the long-format
    corpus, and the ADC scan joins the 4-codes-per-vector table to the
    32-row distance table -- no raw-vector access at query time, which
    is the point: at 100 TB the float embeddings stay in cold storage
    and the scan runs over the 64x-smaller code table. Exact int64
    throughout => the full train->encode->rank path hash-matches the
    unrolled oracle. The trained model (codebook + code table) is
    memoized per (session, sf_dir) and localCheckpoint'd -- the same
    train-once / probe-many split sim_ann_ivf_trained applies, since a
    serving deployment persists the index and pays only the ADC scan
    per query."""
    cent, codes = memo(
        spark, ("ann_pq_model", sf_dir), lambda: _pq_train(spark, sf_dir)
    )
    pts = _pq_pts(spark, sf_dir)
    qd = (
        pts.filter(F.col("vec_id") == PQ_QUERY)
        .join(F.broadcast(cent), ["s", "d"])
        .groupBy("s", "cluster")
        .agg(F.sum((F.col("xs") - F.col("c")) * (F.col("xs") - F.col("c"))).alias("qdist"))
    )
    return (
        codes.join(F.broadcast(qd), ["s", "cluster"])
        .groupBy("vec_id")
        .agg(F.sum("qdist").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(PQ_TOPK)
    )


@register(
    "pipeline_e2e_curation",
    oracle="""
    WITH norm AS (
      SELECT doc_id, lang,
             trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS ntext
      FROM documents),
    dedup AS (
      SELECT doc_id, lang, ntext,
             ROW_NUMBER() OVER (PARTITION BY md5(ntext)
                                ORDER BY doc_id) AS dup_rank
      FROM norm),
    kept AS (
      SELECT doc_id, lang, ntext,
             len(str_split(ntext, ' ')) AS n_tok
      FROM dedup WHERE dup_rank = 1),
    quality AS (
      SELECT doc_id, lang, n_tok,
             (n_tok BETWEEN 10 AND 1000) AS q_keep
      FROM kept),
    packed AS (
      SELECT lang, doc_id, n_tok,
             CAST((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - 1) // 2048 AS BIGINT) AS bin
      FROM quality WHERE q_keep)
    SELECT d.lang,
           COUNT(*) AS n_docs_in,
           (SELECT COUNT(*) FROM kept k WHERE k.lang = d.lang)
               AS n_after_dedup,
           (SELECT COUNT(*) FROM quality q
             WHERE q.lang = d.lang AND q.q_keep) AS n_after_quality,
           (SELECT COUNT(DISTINCT bin) FROM packed p WHERE p.lang = d.lang)
               AS n_bins
    FROM documents d
    GROUP BY d.lang
    """,
)
def pipeline_e2e_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE declarative plan: normalize
    -> exact-dedup on normalized content (min-doc_id keeper per md5
    group) -> token-count quality gate -> greedy sequence packing into
    2048-token bins per language -> per-language funnel report
    (ingested, after dedup, after quality, packed bins). This is the
    composition argument for the engine: each stage is an operator
    that exists standalone (text_normalize, dedup_exact,
    text_quality_filter, pack_sequences), and composing them stays ONE
    Catalyst plan -- stages fuse where possible (normalize + hash in
    one map), shuffles appear only at the dedup window (md5 key), the
    packing window (lang), and the final rollup, and the optimizer
    sees through the whole chain (no materialization barriers between
    stages). At 100 TB the same composition runs unchanged; each
    shuffle is on a well-distributed key."""
    d = load(spark, sf_dir, "documents", parallelize=True)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    w_dup = Window.partitionBy(F.md5("ntext")).orderBy("doc_id")
    # All stage predicates ride ONE row so the funnel is ONE
    # conditional aggregation instead of a 4-branch + 3-join tail that
    # re-ran the corpus scan 4x and the md5 dedup window 3x. The
    # packing window keeps EVERY row (same lang/doc_id order the
    # filtered form packed in) but non-surviving rows add 0 tokens, so
    # the running total at each surviving row — and hence its bin — is
    # bit-identical to packing over the filtered relation; losers get a
    # NULL bin, which count_distinct ignores.
    staged = (
        d.select("doc_id", "lang", norm.alias("ntext"))
        .withColumn("dup_rank", F.row_number().over(w_dup))
        .withColumn("n_tok", F.size(F.split("ntext", " ")))
        .withColumn(
            "q_keep",
            (F.col("dup_rank") == 1) & F.col("n_tok").between(10, 1000),
        )
    )
    w_pack = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = staged.withColumn(
        "run_tok",
        F.sum(F.when(F.col("q_keep"), F.col("n_tok")).otherwise(0)).over(
            w_pack
        ),
    ).withColumn(
        "bin",
        F.when(F.col("q_keep"), F.expr("(run_tok - 1) div 2048")),
    )
    return (
        packed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_in"),
            F.sum((F.col("dup_rank") == 1).cast("bigint")).alias(
                "n_after_dedup"
            ),
            F.sum(F.col("q_keep").cast("bigint")).alias("n_after_quality"),
            F.count_distinct("bin").alias("n_bins"),
        )
        .select(
            "lang", "n_docs_in", "n_after_dedup", "n_after_quality", "n_bins"
        )
    )


@register(
    "kmeans_label_purity",
    oracle=f"""
    WITH {_km_chain()[0]},
    joined AS (
      SELECT a.vec_id, a.cluster, e.label
      FROM {_km_chain()[2]} a JOIN embeddings e ON e.vec_id = a.vec_id),
    cl AS (
      SELECT cluster, label, COUNT(*) AS n FROM joined GROUP BY 1, 2),
    best AS (
      SELECT cluster, label AS majority_label, n AS n_majority
      FROM (SELECT cluster, label, n,
                   ROW_NUMBER() OVER (PARTITION BY cluster
                                      ORDER BY n DESC, label) AS rn
            FROM cl) WHERE rn = 1),
    tot AS (SELECT cluster, CAST(SUM(n) AS BIGINT) AS n_total FROM cl GROUP BY 1)
    SELECT t.cluster, t.n_total, b.majority_label,
           CAST(b.n_majority AS BIGINT) AS n_majority,
           ROUND(b.n_majority * 1.0 / t.n_total, 6) AS purity
    FROM tot t JOIN best b ON b.cluster = t.cluster
    """,
)
def kmeans_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality audit: per-cluster majority label and purity of
    the trained k-means assignment against the embeddings' ground-truth
    labels -- the unsupervised-quality check every embedding-clustering
    deployment reports before the clusters are trusted for curation or
    mixture decisions. The assignment chain is kmeans_train's (same
    exact-int64 unrolled training, same oracle CTEs); purity is one
    (cluster, label) rollup plus an argmax window with deterministic
    tiebreak, and the final ratio is a single IEEE division. At scale
    the labeled subset is typically a sample joined against the full
    assignment -- the same join, dimension-sized on the label side."""
    pts = _km_pts(spark, sf_dir)
    assign = _km_assign(pts, _km_train(pts)).select("vec_id", "cluster")
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    cl = (
        assign.join(e, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("n"), F.asc("label"))
    best = (
        cl.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("label").alias("majority_label"),
            F.col("n").cast("bigint").alias("n_majority"),
        )
    )
    tot = cl.groupBy("cluster").agg(F.sum("n").cast("bigint").alias("n_total"))
    return (
        tot.join(best, "cluster")
        .select(
            "cluster",
            "n_total",
            "majority_label",
            "n_majority",
            F.round(F.col("n_majority") * F.lit(1.0) / F.col("n_total"), 6).alias(
                "purity"
            ),
        )
    )


@register(
    "dedup_family_sizes",
    oracle=f"""
    WITH RECURSIVE {_minhash_pairs_ctes().strip().removeprefix("WITH ")},
    nodes AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM mh_pairs
        UNION ALL SELECT doc_b FROM mh_pairs)),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM mh_pairs
      UNION ALL SELECT doc_b, doc_a FROM mh_pairs),
    walk(u, lbl) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v),
    comp AS (
      SELECT u AS doc_id, MIN(lbl) AS component_id
      FROM walk GROUP BY u),
    fam AS (
      SELECT component_id, CAST(COUNT(*) AS BIGINT) AS family_size
      FROM comp GROUP BY 1)
    SELECT family_size,
           CAST(COUNT(*) AS BIGINT) AS n_families,
           CAST(SUM(family_size - 1) AS BIGINT) AS removable_docs
    FROM fam GROUP BY 1 ORDER BY 1
    """,
)
def dedup_family_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-family size distribution: after transitive closure,
    how large are the near-dup groups, and how many documents would
    keep-one-per-family remove? THE headline numbers of any dedup run
    (pair counts overstate impact; family sizes state it exactly:
    removable = sum(size-1)). Reuses the component labels
    (dedup_components) and adds two tiny aggregates -- the histogram
    is family-count-sized."""
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("family_size")
    )
    return (
        sizes.groupBy("family_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_families"),
            F.sum(F.col("family_size") - 1).cast("bigint").alias(
                "removable_docs"
            ),
        )
        .orderBy("family_size")
    )


# --------------------------------------------------------------------------
# PCA power iteration (top principal direction of the embedding corpus)
# --------------------------------------------------------------------------

#: fixture embedding dimensionality (validated at runtime).
EMB_DIM = 64

#: unrolled power-iteration count (same convergence-by-construction
#: posture as kmeans_train's unrolled oracle).
PCA_ITERS = 3

#: fixed-point scale for the iterate vector.
PCA_SCALE = 1_000_000


def _pca_oracle() -> str:
    """Unrolled DuckDB twin of the power iteration: identical integer
    quantization, DECIMAL(38,0) accumulation, and max-abs rescale."""
    ctes = [
        """x AS (
      SELECT vec_id, u.j AS j,
             CAST(floor(CAST(u.x AS DOUBLE) * 1e6) AS BIGINT) AS xq
      FROM (SELECT vec_id,
                   unnest(list_transform(embedding,
                                         (x, i) -> {'j': i, 'x': x})) AS u
            FROM embeddings))""",
        f"""v0 AS (SELECT j, CAST({PCA_SCALE} AS BIGINT) AS v
      FROM range(1, {EMB_DIM + 1}) t(j))""",
    ]
    for t in range(1, PCA_ITERS + 1):
        p = t - 1
        ctes.append(f"""s{t} AS (
      SELECT x.vec_id, CAST(SUM(x.xq * v{p}.v) AS BIGINT) AS s
      FROM x JOIN v{p} ON x.j = v{p}.j GROUP BY x.vec_id)""")
        ctes.append(f"""w{t} AS (
      SELECT x.j,
             CAST(SUM(CAST(s{t}.s AS DECIMAL(19,0)) * x.xq)
                  AS DECIMAL(38,0)) AS w
      FROM x JOIN s{t} ON x.vec_id = s{t}.vec_id GROUP BY x.j)""")
        ctes.append(f"""m{t} AS (SELECT MAX(abs(w)) AS m FROM w{t})""")
        ctes.append(f"""v{t} AS (
      SELECT j, CAST(floor(CAST(w AS DOUBLE) / CAST(m AS DOUBLE)
                           * {PCA_SCALE}) AS BIGINT) AS v
      FROM w{t}, m{t})""")
    last = PCA_ITERS
    # Convergence witness: exact L1 delta between the last two integer
    # iterates (after rescale both live in PCA_SCALE units).
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    ray AS (
      SELECT ROUND(SUM(CAST(v{last}.v AS DOUBLE) * CAST(w{last}.w AS DOUBLE))
                   / SUM(CAST(v{last}.v AS DOUBLE) * CAST(v{last}.v AS DOUBLE))
                   / 1e12, 6) AS eigval
      FROM v{last} JOIN w{last} ON v{last}.j = w{last}.j),
    pres AS (
      SELECT CAST(SUM(ABS(a.v - b.v)) AS BIGINT) AS residual_units
      FROM v{last} a JOIN v{last - 1} b ON b.j = a.j)
    SELECT CAST(v{last}.j AS BIGINT) AS j, v{last}.v AS component,
           ray.eigval AS eigval, pres.residual_units
    FROM v{last}, ray, pres
    """
    )


@register("embedding_pca_power", oracle=_pca_oracle())
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POWER-ITERATION kernel toward the dominant eigenvector of XᵀX
    (uncentered PCA / top right-singular direction) — the building
    block behind spectral whitening, residual decomposition, and drift
    tracking over embedding spaces. The registered query runs
    PCA_ITERS exact iterations; production runs the SAME kernel to a
    tolerance, and the per-iteration cost (two shuffles) is the thing
    that must scale. Convergence rate is data-dependent ((λ2/λ1)^t —
    the synthetic fixture is near-isotropic with λ2/λ1 ≈ 0.93, so full
    convergence there takes ~90 iterations; tests/test_round4_ops.py
    verifies the kernel is BIT-EXACT against a numpy simulation of the
    same iterations and that alignment improves monotonically, which
    is the honest contract for an iterative kernel).

    Spark-first iterative-ML shape (same family as kmeans_train /
    graph_pagerank): the corpus stays LONG (vec_id, j, xq) and each of
    the {PCA_ITERS} unrolled iterations is two shuffles — s = Xv (a
    broadcast join of the 64-row iterate against the corpus, groupBy
    vec_id) and w = Xᵀs (shuffle join on vec_id, groupBy dimension) —
    then a 64-row max-abs rescale. Nothing driver-side, nothing
    single-partition; at 100 TB each iteration is two
    map-side-combinable aggregations over the fact.

    Determinism: embeddings quantize once to integer 1e-6 units; Xv
    accumulates in int64 (|term| <= 1e12 x dim); XᵀS accumulates in
    DECIMAL(38,0) (terms reach ~1e19); the per-iteration rescale is
    the ONE float step — floor(w/m * 1e6) on identical IEEE inputs in
    both engines — after which the iterate is integer again, so error
    cannot compound across iterations. The final Rayleigh quotient is
    reported in original units (the 1e12 rescale) rounded to 1e-6.
    residual_units is the CONVERGENCE WITNESS — exact L1 delta between
    the last two PCA_SCALE-unit iterates, oracle-matched, so a fixed
    horizon that under-converges is visible in the output (on the
    near-isotropic fixture it is deliberately LARGE; the witness is
    what lets a production run assert it shrank)."""
    e = load(spark, sf_dir, "embeddings")
    # The long fact is consumed twice per iteration (the Xv join and
    # the Xᵀs join) and the eager per-iteration checkpoints execute
    # those consumers immediately — materialize the projection once
    # (the "project early, reuse across rounds" intermediate) instead
    # of re-scanning + re-exploding the parquet 2x per iteration.
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xval")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("j"),
        F.floor(F.col("xval").cast("double") * 1e6).cast("bigint").alias("xq"),
    ).localCheckpoint()
    v = spark.range(1, EMB_DIM + 1).select(
        F.col("id").alias("j"), F.lit(PCA_SCALE).cast("bigint").alias("v")
    )
    w = None
    prev_v = v
    for _ in range(PCA_ITERS):
        prev_v = v
        s = (
            x.join(F.broadcast(v), "j")
            .groupBy("vec_id")
            .agg(F.sum(F.col("xq") * F.col("v")).cast("bigint").alias("s"))
        )
        # 64-row result of the iteration's TWO fact shuffles, with
        # THREE consumers (the max-abs rescale, the v projection, and
        # — for the last iteration — the Rayleigh quotient): without
        # this checkpoint each consumer re-ran both shuffles.
        w = (
            x.join(s, "vec_id")
            .groupBy("j")
            .agg(
                F.sum(F.col("s").cast("decimal(19,0)") * F.col("xq"))
                .cast("decimal(38,0)")
                .alias("w")
            )
            .localCheckpoint()
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        # 64-row iterate: localCheckpoint truncates the per-iteration
        # lineage so the residual witness (v_K vs v_{K-1}) reuses the
        # materialized iterates instead of re-running the whole chain
        # a second time (measured 1.8 -> 2.6 s before this pin).
        v = (
            w.crossJoin(F.broadcast(m))
            .select(
                "j",
                F.floor(
                    F.col("w").cast("double") / F.col("m").cast("double")
                    * PCA_SCALE
                )
                .cast("bigint")
                .alias("v"),
            )
            .localCheckpoint()
        )
    ray = (
        v.join(w, "j")
        .agg(
            F.round(
                F.sum(F.col("v").cast("double") * F.col("w").cast("double"))
                / F.sum(F.col("v").cast("double") * F.col("v").cast("double"))
                / 1e12,
                6,
            ).alias("eigval")
        )
    )
    pres = (
        v.join(prev_v.withColumnsRenamed({"v": "pv"}), "j")
        .agg(
            F.sum(F.abs(F.col("v") - F.col("pv")))
            .cast("bigint")
            .alias("residual_units")
        )
    )
    return (
        v.crossJoin(F.broadcast(ray))
        .crossJoin(F.broadcast(pres))
        .select(
            F.col("j").cast("bigint").alias("j"),
            F.col("v").alias("component"),
            "eigval",
            "residual_units",
        )
    )


#: Family-size gate for the medoid's within-family all-pairs phase:
#: families larger than this are QUARANTINED (deterministic min-doc_id
#: keeper, sum_dist_e6 = -1 sentinel, quarantined = true) instead of
#: paying O(F^2) on one component key — a boilerplate mega-family at
#: 100 TB would otherwise make a single reducer quadratic (the
#: dedup_minhash_bucket_stats cap discipline applied to components).
MEDOID_FAMILY_CAP = 256


@register(
    "dedup_cluster_medoid",
    oracle=f"""
    WITH RECURSIVE {_minhash_pairs_ctes().strip().removeprefix("WITH ")},
    nodes AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM mh_pairs
        UNION ALL SELECT doc_b FROM mh_pairs)),
    cedges AS (
      SELECT doc_a AS u, doc_b AS v FROM mh_pairs
      UNION ALL SELECT doc_b, doc_a FROM mh_pairs),
    walk(u, lbl) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.u, w.lbl FROM cedges e JOIN walk w ON w.u = e.v),
    comp AS MATERIALIZED (
      SELECT u AS doc_id, MIN(lbl) AS component_id FROM walk GROUP BY u),
    mnm AS MATERIALIZED (
      SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM comp GROUP BY 1),
    csmall AS MATERIALIZED (
      SELECT c.doc_id, c.component_id
      FROM comp c JOIN mnm n USING (component_id)
      WHERE n.n_members <= {MEDOID_FAMILY_CAP}),
    mexs AS (SELECT doc_id, unnest(shingle_list) AS shingle FROM sh),
    mszs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM mexs JOIN csmall USING (doc_id) GROUP BY doc_id),
    mprs AS (SELECT a.doc_id AS da, b.doc_id AS db, a.component_id AS c
            FROM csmall a JOIN csmall b
              ON a.component_id = b.component_id AND a.doc_id < b.doc_id),
    minter AS (SELECT p.da, p.db, CAST(COUNT(*) AS BIGINT) AS i
              FROM mprs p
              JOIN mexs ea ON ea.doc_id = p.da
              JOIN mexs eb ON eb.doc_id = p.db AND eb.shingle = ea.shingle
              GROUP BY 1, 2),
    mpd AS (SELECT p.da, p.db, p.c,
                  CAST(1000000 - (COALESCE(i.i, 0) * 1000000)
                       // (sa.n + sb.n - COALESCE(i.i, 0)) AS BIGINT)
                      AS dist_e6
           FROM mprs p
           LEFT JOIN minter i ON i.da = p.da AND i.db = p.db
           JOIN mszs sa ON sa.doc_id = p.da
           JOIN mszs sb ON sb.doc_id = p.db),
    mdsum AS (SELECT c AS component_id, doc_id,
                    CAST(SUM(dist_e6) AS BIGINT) AS sum_dist_e6
             FROM (SELECT c, da AS doc_id, dist_e6 FROM mpd
                   UNION ALL SELECT c, db, dist_e6 FROM mpd)
             GROUP BY 1, 2),
    mrk AS (SELECT component_id, doc_id, sum_dist_e6,
                  ROW_NUMBER() OVER (PARTITION BY component_id
                                     ORDER BY sum_dist_e6, doc_id) AS rn
           FROM mdsum)
    SELECT r.component_id, r.doc_id AS medoid_doc_id, n.n_members,
           r.sum_dist_e6, FALSE AS quarantined
    FROM mrk r JOIN mnm n USING (component_id) WHERE rn = 1
    UNION ALL
    SELECT c.component_id, MIN(c.doc_id) AS medoid_doc_id,
           CAST(MAX(n.n_members) AS BIGINT) AS n_members,
           CAST(-1 AS BIGINT) AS sum_dist_e6, TRUE AS quarantined
    FROM comp c JOIN mnm n USING (component_id)
    WHERE n.n_members > {MEDOID_FAMILY_CAP}
    GROUP BY c.component_id
    """,
)
def dedup_cluster_medoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection by CENTRALITY: per duplicate
    family (connected components over the minhash pairs), the medoid —
    the member minimizing total exact-Jaccard distance to its family —
    becomes the keeper. This completes the keeper-policy pair with
    dedup_keep_best (which picks by an external quality score): medoid
    keeps the most REPRESENTATIVE text, keep_best the highest-quality
    one; real pipelines choose per corpus.

    Distances are exact shingle-set Jaccard (1e6 - floor(i*1e6/union))
    over the memoized _shingle_rel, computed only WITHIN families —
    the component structure bounds the all-pairs work to duplicate
    clusters (tiny by construction: a family is a near-dup clique
    neighborhood, not the corpus). Tie-break (sum_dist, doc_id) makes
    the keeper deterministic.

    Scale shape: the family self-join is an equi-join on component_id
    (never data x data), and a family-size census GATES it: only
    families with n_members <= MEDOID_FAMILY_CAP enter the all-pairs
    phase, so the worst per-key work is CAP^2 regardless of corpus
    pathology. Oversized families (boilerplate mega-cliques — the
    skewed-component hazard) are QUARANTINED with a deterministic
    min-doc_id keeper, sum_dist_e6 = -1, quarantined = true, so the
    report still covers every family and downstream keeper logic
    stays total. The intersection count reuses the shingle relation's
    equi-join machinery from dedup_jaccard_prefix's verify phase; the
    per-family argmin is a KEYED window."""
    from metadata_extractors_api_spark.operators.llm import _shingle_rel

    comp = dedup_components(spark, sf_dir).localCheckpoint()
    return _medoid_report(comp, _shingle_rel(spark, sf_dir))


def _medoid_report(comp: DataFrame, shingles: DataFrame) -> DataFrame:
    """The medoid kernel: given a components relation
    ``(doc_id, component_id)`` and a distinct-shingle relation
    ``(doc_id, shingle)``, produce the per-family keeper report —
    exact within-family Jaccard medoid for families up to
    MEDOID_FAMILY_CAP members, min-doc_id quarantine rows above it.
    Extracted so the giant-family stress test (tests/
    test_stress_scale.py) can drive it with an adversarial synthetic
    component structure without a corpus."""
    # Multi-consumer subtrees materialized once (all of them are
    # family-bounded, never corpus-shaped): nm feeds the gate + both
    # report branches, comp_small feeds the pair self-join twice plus
    # the shingle semi-join, ex feeds sizes and BOTH intersection
    # sides, prs feeds the intersection join and the distance
    # re-attach. Without the checkpoints the final plan re-derived
    # each from the comp checkpoint per consumer (measured: 86 RDD
    # scans / 114 exchanges / 64 SortMergeJoin in the executed plan).
    nm = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    ).localCheckpoint()
    comp_small = comp.join(
        nm.filter(F.col("n_members") <= MEDOID_FAMILY_CAP).select(
            "component_id"
        ),
        "component_id",
        "left_semi",
    ).localCheckpoint()
    ex = shingles.join(
        comp_small.select("doc_id"), "doc_id", "left_semi"
    ).localCheckpoint()
    szs = ex.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = comp_small.select(
        F.col("doc_id").alias("da"), F.col("component_id").alias("c")
    )
    b = comp_small.select(
        F.col("doc_id").alias("db"), F.col("component_id").alias("c2")
    )
    prs = (
        a.join(b, (a.c == b.c2) & (a.da < b.db))
        .select("da", "db", "c")
        .localCheckpoint()
    )
    ea = ex.withColumnsRenamed({"doc_id": "da"})
    eb = ex.withColumnsRenamed({"doc_id": "db"})
    inter = (
        prs.join(ea, "da")
        .join(eb, ["db", "shingle"])
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    sa = szs.withColumnsRenamed({"doc_id": "da", "n": "na"})
    sb = szs.withColumnsRenamed({"doc_id": "db", "n": "nb"})
    pd_ = (
        prs.join(inter, ["da", "db"], "left")
        .join(sa, "da")
        .join(sb, "db")
        .select(
            "da",
            "db",
            "c",
            (
                F.lit(1000000)
                - F.expr(
                    "(COALESCE(i, 0) * 1000000)"
                    " div (na + nb - COALESCE(i, 0))"
                )
            )
            .cast("bigint")
            .alias("dist_e6"),
        )
    )
    # Both pair endpoints emitted map-side from ONE pass over pd_ (the
    # former two-branch union consumed pd_ twice, re-running the
    # intersection join per branch).
    dsum = (
        pd_.select(
            F.col("c").alias("component_id"),
            F.explode(F.array("da", "db")).alias("doc_id"),
            "dist_e6",
        )
        .groupBy("component_id", "doc_id")
        .agg(F.sum("dist_e6").cast("bigint").alias("sum_dist_e6"))
    )
    w = Window.partitionBy("component_id").orderBy("sum_dist_e6", "doc_id")
    small_report = (
        dsum.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(nm, "component_id")
        .select(
            "component_id",
            F.col("doc_id").alias("medoid_doc_id"),
            "n_members",
            "sum_dist_e6",
            F.lit(False).alias("quarantined"),
        )
    )
    quarantine = (
        comp.join(
            nm.filter(F.col("n_members") > MEDOID_FAMILY_CAP),
            "component_id",
        )
        .groupBy("component_id")
        .agg(
            F.min("doc_id").alias("medoid_doc_id"),
            F.max("n_members").cast("bigint").alias("n_members"),
        )
        .select(
            "component_id",
            "medoid_doc_id",
            "n_members",
            F.lit(-1).cast("bigint").alias("sum_dist_e6"),
            F.lit(True).alias("quarantined"),
        )
    )
    return small_report.unionByName(quarantine)


# ---------------------------------------------------------------------------
# semantic dedup (cluster-then-prune)
# ---------------------------------------------------------------------------

#: Pairwise-cosine threshold above which two same-cluster members are
#: semantic duplicates (SemDeDup's epsilon).
SEM_T = 0.35
#: Cluster-size gate for the within-cluster all-pairs phase: clusters
#: larger than this are QUARANTINED (action='quarantine', counts = -1)
#: instead of paying O(C^2) on one cluster key. SemDeDup's own scale
#: contract is that K grows with N so cluster size stays bounded —
#: enforced here by the DATA-ADAPTIVE K below (mean cluster size stays
#: ~SEM_TARGET_CLUSTER at every N); the cap is the residual guard for
#: a degenerate embedding collapse piling one cluster far above the
#: mean (trips before any cluster's pair count exceeds ~0.7M).
SEM_CLUSTER_CAP = 1200
#: Target mean cluster population: the SemDeDup K is derived from the
#: corpus census as K = ceil(N / SEM_TARGET_CLUSTER), so K grows with
#: N (the paper's contract) instead of inheriting kmeans_train's fixed
#: KM_K. At the fixtures: N=500 -> K=4 (same geometry kmeans_train
#: trains), N=2000 (sf0.1) -> K=14, N=20000 (the sf1 decade) -> K=134
#: — the pairwise phase stays executed, not quarantined, as data grows.
SEM_TARGET_CLUSTER = 150

#: SQL form of the adaptive K (exact integer ceil-division), usable as
#: a scalar subquery inside the unrolled training chain.
_SEM_K_SQL = (
    f"(SELECT (COUNT(*) + {SEM_TARGET_CLUSTER} - 1) // {SEM_TARGET_CLUSTER}"
    " FROM embeddings)"
)


def _sem_k(spark: SparkSession, sf_dir: str) -> int:
    """Data-adaptive SemDeDup K = ceil(N / SEM_TARGET_CLUSTER) from a
    one-row corpus census (parquet-metadata count — no scan)."""
    n = load(spark, sf_dir, "embeddings", parallelize=True).count()
    return (n + SEM_TARGET_CLUSTER - 1) // SEM_TARGET_CLUSTER


def _semdedup_oracle() -> str:
    chain, dist, _assign = _km_chain(k_sql=_SEM_K_SQL)
    return f"""
    WITH {chain},
    top2 AS MATERIALIZED (
      SELECT vec_id, cluster, rn FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM {dist})
      WHERE rn <= 2),
    psz AS MATERIALIZED (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS probe_pop
      FROM top2 GROUP BY 1),
    en AS MATERIALIZED (
      SELECT vec_id, embedding,
             {_sql_dot('embedding', 'embedding')} AS nn
      FROM embeddings),
    prs AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
      FROM top2 a
      JOIN top2 b ON b.cluster = a.cluster AND a.vec_id < b.vec_id
      JOIN psz s ON s.cluster = a.cluster
               AND s.probe_pop <= {SEM_CLUSTER_CAP}
      JOIN en ea ON ea.vec_id = a.vec_id
      JOIN en eb ON eb.vec_id = b.vec_id
      WHERE round(({_sql_dot('ea.embedding', 'eb.embedding')} / 1e12)
                  / (sqrt(ea.nn / 1e12) * sqrt(eb.nn / 1e12)), 6)
            >= CAST({SEM_T} AS DOUBLE)),
    nsl AS (
      SELECT vb AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_sim_lower
      FROM prs GROUP BY 1)
    SELECT p.vec_id, CAST(p.cluster AS BIGINT) AS cluster,
           s.probe_pop AS n_members,
           CASE WHEN s.probe_pop > {SEM_CLUSTER_CAP}
                THEN CAST(-1 AS BIGINT)
                ELSE COALESCE(n.n_sim_lower, 0) END AS n_sim_lower,
           CASE WHEN s.probe_pop > {SEM_CLUSTER_CAP} THEN 'quarantine'
                WHEN COALESCE(n.n_sim_lower, 0) > 0 THEN 'prune'
                ELSE 'keep' END AS action
    FROM top2 p
    JOIN psz s ON s.cluster = p.cluster
    LEFT JOIN nsl n ON n.vec_id = p.vec_id
    WHERE p.rn = 1
    """


_PAIR_DOTS_SCHEMA = "va long, vb long, dot long, na long, nb long"


def _pair_dots(pdf: pd.DataFrame) -> pd.DataFrame:
    """All i<j exact pair dots of one bounded group (a cap-gated
    cluster, or a literal-bounded audit slice), vectorized in numpy:
    floor((x*y)*1e12) summed in int64 is the operation-for-operation
    replay of dot_scaled's zip_with lambda (same IEEE double multiply
    order — elementwise product then scale, commutative bitwise — same
    floor, order-independent integer sum), so the emitted dot is
    bit-identical to the former self-join expression at a fraction of
    the per-pair cost. Expects (vec_id, embedding, nn) columns; emits
    (va < vb, dot, na, nb) with the cosine round/threshold left to the
    caller's Spark expression (cosine_from_scaled), untouched."""
    m = len(pdf)
    if m < 2:
        return pd.DataFrame(
            {"va": [], "vb": [], "dot": [], "na": [], "nb": []}
        ).astype(
            {"va": "int64", "vb": "int64", "dot": "int64",
             "na": "int64", "nb": "int64"}
        )
    ids = pdf["vec_id"].to_numpy()
    nns = pdf["nn"].to_numpy()
    emb = np.asarray(
        [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
    )
    va, vb, dots, nas, nbs = [], [], [], [], []
    for i in range(m - 1):
        prods = (emb[i + 1 :] * emb[i]) * SCALE
        d = np.floor(prods).astype(np.int64).sum(axis=1)
        va.append(np.full(m - 1 - i, ids[i]))
        vb.append(ids[i + 1 :])
        dots.append(d)
        nas.append(np.full(m - 1 - i, nns[i]))
        nbs.append(nns[i + 1 :])
    lo = np.concatenate(va)
    hi = np.concatenate(vb)
    sw = lo > hi  # emit (min, max) so va < vb like the self-join
    return pd.DataFrame(
        {
            "va": np.where(sw, hi, lo),
            "vb": np.where(sw, lo, hi),
            "dot": np.concatenate(dots),
            "na": np.where(sw, np.concatenate(nbs), np.concatenate(nas)),
            "nb": np.where(sw, np.concatenate(nas), np.concatenate(nbs)),
        }
    )


def _sem_probes(
    spark: SparkSession, sf_dir: str, n_probes: int = 2
) -> DataFrame:
    """Top-``n_probes`` soft cluster assignment (vec_id, cluster, rn)
    under the adaptive-K SemDeDup model: the broadcast-centroid
    distance join plus a per-vector rank — the multi-probe relation
    the production detect path and the audits share."""
    pts = _km_pts(spark, sf_dir)
    cent = _km_train(pts, k=_sem_k(spark, sf_dir))
    # Shuffle-free top-n_probes: sort the per-row (dist, cluster)
    # struct array (== ORDER BY dist, cluster) and slice — bit-equal
    # to the former keyed row_number() window without its exchange.
    srt = F.slice(F.array_sort(_km_cdists(F.col("xs"))), 1, n_probes)
    return (
        pts.crossJoin(F.broadcast(_km_centmat(cent)))
        .select("vec_id", F.posexplode(srt).alias("p", "cd"))
        .select(
            "vec_id",
            F.col("cd.cluster").alias("cluster"),
            (F.col("p") + 1).cast("int").alias("rn"),
        )
        .localCheckpoint()  # reused by census, pair gen, and report
    )


@register("dedup_semantic_cluster", oracle=_semdedup_oracle())
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication, cluster-then-prune (SemDeDup, Abbas et
    al. 2023) with TOP-2 MULTI-PROBE candidate generation: embeddings
    are soft-assigned to their two nearest centroids of the adaptive-K
    k-means model, and the pairwise-cosine check runs within any SHARED
    probe cluster — the multi-probe trick production ANN systems use to
    close the cluster-boundary blind spot single assignment suffers
    (two near-duplicates split across adjacent centroids are never
    compared under top-1). dedup_semantic_recall_audit measures the
    difference on slice truth: 31.8% boundary-pair recall single-probe
    vs 64.2% top-2 at sf0.1, for a bounded <=4x pair budget
    (dedup_semantic_multiprobe_audit is the tuning readout that
    justified promoting the second probe into this production path).
    A member is pruned when any LOWER-id member shares one of its probe
    clusters within epsilon (cosine >= SEM_T), keeping exactly one
    representative per duplicate chain (min-id keeper, the dedup_exact
    convention); reported cluster is the PRIMARY (rn=1) assignment and
    n_members is the primary cluster's PROBE population (the actual
    pair-join key size the cap gates).

    Scale shape: soft assignment is the broadcast-centroid distance
    join plus a per-vector rank (KEYED window, never global); the pair
    space is an equi-join on the CLUSTER key over the 2N-row probe
    relation (never data x data) with a DISTINCT collapsing pairs seen
    via both shared clusters; SemDeDup's own contract — K scales with N
    so cluster populations stay bounded — is ENFORCED structurally:
    K = ceil(N / SEM_TARGET_CLUSTER) from a one-row corpus census (the
    same expression a scalar subquery computes in the oracle), so the
    mean probe population stays ~2*SEM_TARGET_CLUSTER at any N and the
    pairwise phase keeps executing as data grows 10x/100x.
    SEM_CLUSTER_CAP remains the residual guard for a degenerate
    embedding collapse piling one cluster far above the mean — the gate
    now reads the PROBE population (the true pair-join key size):
    over-cap clusters generate no pairs, and vectors whose PRIMARY
    cluster is over-cap come back as deterministic 'quarantine' rows
    (the dedup_cluster_medoid / dedup_minhash_bucket_stats cap
    discipline), so a pathological key can never make one reducer
    quadratic. Exact scaled-int dots as everywhere (no float-order
    hazard). Residual recall ceiling: ~36% of boundary truth pairs
    remain probe-invisible at top-2; dedup_semantic_boundary_audit
    measures what a margin-gated third probe buys before anyone pays
    its budget."""
    probes = _sem_probes(spark, sf_dir)
    psz = probes.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("probe_pop")
    )
    e = load(spark, sf_dir, "embeddings", parallelize=True)
    en = e.select(
        "vec_id",
        "embedding",
        dot_scaled(F.col("embedding"), F.col("embedding")).alias("nn"),
    )
    ok = psz.filter(F.col("probe_pop") <= SEM_CLUSTER_CAP).select("cluster")
    pr = probes.join(F.broadcast(ok), "cluster", "left_semi").join(
        en, "vec_id"
    )

    # Within-cluster pair dots as a per-cluster Arrow kernel (see
    # _pair_dots): cap-gated groups, numpy-vectorized exact dots,
    # cosine round/threshold kept in Spark below, untouched.
    prs = (
        pr.select("cluster", "vec_id", "embedding", "nn")
        .groupBy("cluster")
        .applyInPandas(_pair_dots, _PAIR_DOTS_SCHEMA)
        .filter(
            cosine_from_scaled(F.col("dot"), F.col("na"), F.col("nb"))
            >= F.lit(SEM_T)
        )
        .select("va", "vb")
        .distinct()
    )
    nsl = prs.groupBy(F.col("vb").alias("vec_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sim_lower")
    )
    prim = probes.filter(F.col("rn") == 1).select("vec_id", "cluster")
    return (
        prim.join(F.broadcast(psz), "cluster")
        .join(nsl, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("bigint").alias("cluster"),
            F.col("probe_pop").alias("n_members"),
            F.when(
                F.col("probe_pop") > SEM_CLUSTER_CAP, F.lit(-1)
            )
            .otherwise(F.coalesce("n_sim_lower", F.lit(0)))
            .cast("bigint")
            .alias("n_sim_lower"),
            F.when(F.col("probe_pop") > SEM_CLUSTER_CAP, "quarantine")
            .when(F.coalesce("n_sim_lower", F.lit(0)) > 0, "prune")
            .otherwise("keep")
            .alias("action"),
        )
    )


# ---------------------------------------------------------------------------
# int8 quantization audit
# ---------------------------------------------------------------------------

#: int8 symmetric-quantization peak code (the [-127, 127] grid every
#: vector store's SQ8 codec uses; -128 unused for symmetry).
INT8_PEAK = 127


@register(
    "embedding_int8_quant_audit",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT))
                 AS xs
      FROM embeddings),
    s AS (
      SELECT vec_id, xs,
             CAST(greatest(list_max(list_transform(xs, v -> abs(v))), 1)
                  AS BIGINT) AS scale,
             CAST(list_sum(list_transform(xs, v -> v * v)) AS BIGINT)
                 AS norm
      FROM q),
    e AS (
      SELECT vec_id, xs, scale, norm,
             list_transform(xs, v ->
               CASE WHEN v < 0 THEN -(((-v) * {INT8_PEAK}) // scale)
                    ELSE (v * {INT8_PEAK}) // scale END) AS qs
      FROM s),
    r AS (
      SELECT vec_id, xs, scale, norm, qs,
             list_transform(qs, c ->
               CASE WHEN c < 0 THEN -(((-c) * scale) // {INT8_PEAK})
                    ELSE (c * scale) // {INT8_PEAK} END) AS rs
      FROM e)
    SELECT vec_id, scale, norm,
           CAST(list_sum(list_transform(range(1, CAST(len(xs) AS INT) + 1),
             i -> (xs[i] - rs[i]) * (xs[i] - rs[i]))) AS BIGINT) AS sq_err,
           CAST(list_sum(list_transform(range(1, CAST(len(xs) AS INT) + 1),
             i -> (xs[i] - rs[i]) * (xs[i] - rs[i]))) * 1000000
             // greatest(norm, 1) AS BIGINT) AS rel_err_e6,
           CAST(COALESCE(list_sum(list_transform(qs,
             c -> CASE WHEN abs(c) = {INT8_PEAK} THEN 1 ELSE 0 END)), 0)
             AS BIGINT) AS n_peak
    FROM r
    """,
)
def embedding_int8_quant_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Symmetric int8 (SQ8) quantization audit — the codec every vector
    store offers to cut an embedding corpus 4x before ANN indexing,
    with the reconstruction-error census a pipeline runs BEFORE
    committing to it: per vector, the quantization scale (max |coord|
    on the exact 2^24 grid), the int8 codes q = sign-split
    (|x|*127) div scale (magnitude/sign separated so Spark's
    truncating `div` and DuckDB's flooring `//` agree on the same
    non-negative operands), the reconstruction x' = (|q|*scale) div
    127, and exact-integer witnesses: sq_err (L2^2 of x - x' on the
    grid), rel_err_e6 = 1e6 * sq_err / ||x||^2 (the SNR-style quality
    number an SQ8 rollout is judged by), and n_peak (coords at the
    +/-127 rail — saturation census). Everything is exact int64, so
    the audit hash-matches bit for bit across engines.

    Scale shape: one map pass, zero shuffles, whole-stage codegen over
    array expressions (transform/zip_with) — at 100 TB this runs as a
    side-column of the embedding scan. Completes the embedding-codec
    audit family: PQ (sim_ann_pq), matryoshka truncation, random
    projection, and now scalar quantization (SURVEY §2.B.11)."""
    e = load(spark, sf_dir, "embeddings", parallelize=True)
    d = e.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x ->"
            f" cast(floor(cast(x as double) * {KM_SCALE}) as bigint))"
        ).alias("xs"),
    )
    s = d.select(
        "vec_id",
        "xs",
        F.expr(
            "cast(greatest(array_max(transform(xs, v -> abs(v))), 1)"
            " as bigint)"
        ).alias("scale"),
        F.expr(
            "cast(aggregate(transform(xs, v -> v * v),"
            " cast(0 as bigint), (a, v) -> a + v) as bigint)"
        ).alias("norm"),
    )
    r = s.select(
        "vec_id",
        "xs",
        "scale",
        "norm",
        F.expr(
            f"transform(xs, v -> CASE WHEN v < 0"
            f" THEN -(((-v) * {INT8_PEAK}) div scale)"
            f" ELSE (v * {INT8_PEAK}) div scale END)"
        ).alias("qs"),
    ).withColumn(
        "rs",
        F.expr(
            f"transform(qs, c -> CASE WHEN c < 0"
            f" THEN -(((-c) * scale) div {INT8_PEAK})"
            f" ELSE (c * scale) div {INT8_PEAK} END)"
        ),
    )
    return r.select(
        "vec_id",
        "scale",
        "norm",
        F.expr(
            "cast(aggregate(zip_with(xs, rs, (x, y) -> (x - y) * (x - y)),"
            " cast(0 as bigint), (a, v) -> a + v) as bigint)"
        ).alias("sq_err"),
        F.expr(
            "cast(aggregate(zip_with(xs, rs, (x, y) -> (x - y) * (x - y)),"
            " cast(0 as bigint), (a, v) -> a + v) * 1000000"
            " div greatest(norm, 1) as bigint)"
        ).alias("rel_err_e6"),
        F.expr(
            f"cast(aggregate(transform(qs, c -> CASE WHEN abs(c) ="
            f" {INT8_PEAK} THEN cast(1 as bigint) ELSE cast(0 as bigint)"
            f" END), cast(0 as bigint), (a, v) -> a + v) as bigint)"
        ).alias("n_peak"),
    )


# ---------------------------------------------------------------------------
# random projection (Johnson–Lindenstrauss)
# ---------------------------------------------------------------------------

RP_OUT = 8  # projected dimensionality
RP_SCALE = 1 << 24  # exact quantization of input coords (KM_SCALE regime)
RP_DIM = 64  # input dimensionality of the embeddings fixture
#: Deterministic ±1 sign matrix (Achlioptas 2003 database-friendly JL):
#: sign(j,d) from the same Knuth multiplicative stream the LSH planes
#: use — no RNG, every engine and run agrees.
RP_SIGNS = [
    [
        1 if (((j * RP_DIM + d) * 2654435761) % 4294967296) < 2147483648 else -1
        for d in range(RP_DIM)
    ]
    for j in range(RP_OUT)
]


def _rp_proj_sql(j: int) -> str:
    lits = "[" + ", ".join(str(s) for s in RP_SIGNS[j]) + "]"
    return (
        f"CAST(list_sum(list_transform(embedding, (x,i) -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {RP_SCALE}) AS BIGINT)"
        f" * ({lits})[i])) AS BIGINT)"
    )


@register(
    "embedding_random_projection",
    oracle=f"""
    WITH p AS (
      SELECT vec_id,
             {", ".join(f"{_rp_proj_sql(j)} AS p{j}" for j in range(RP_OUT))},
             CAST(list_sum(list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * {RP_SCALE}) AS BIGINT)
               * CAST(floor(CAST(x AS DOUBLE) * {RP_SCALE}) AS BIGINT)))
               AS BIGINT) AS norm_in
      FROM embeddings)
    SELECT vec_id, {", ".join(f"p{j}" for j in range(RP_OUT))},
           norm_in,
           CAST(({" + ".join(f"p{j}*p{j}" for j in range(RP_OUT))})
                AS BIGINT) AS norm_out,
           CAST((({" + ".join(f"p{j}*p{j}" for j in range(RP_OUT))}) // {1 << 20})
                * 1000000 // ({RP_OUT} * (norm_in // {1 << 20}))
                AS BIGINT) AS jl_ratio_e6
    FROM p
    """,
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection with the deterministic
    ±1 sign matrix (Achlioptas 2003): every embedding mapped from
    RP_DIM to RP_OUT exact-integer coordinates, plus the per-vector JL
    distortion witness jl_ratio_e6 = 1e6 · ||y||² / (m·||x||²) (≈1e6
    when the embedding is JL-faithful — E[y_j²] = ||x||² for ±1
    signs), computed entirely in down-shifted integer arithmetic so
    the witness is engine-exact, not a float.

    Scale shape: one map pass, zero shuffles, whole-stage codegen —
    the projection every ANN/sketch pipeline runs before indexing at
    100 TB (reduces the LSH/IVF build's byte footprint 8×), in the
    same exact-int regime as dot_scaled so the oracle matches
    bitwise."""
    # The 8 projections + input norm ran as NINE interpreted
    # higher-order zip_with/aggregate expressions per row; one
    # Arrow-batched numpy pass computes them as a single int64 matmul
    # (guide §4.2: hand whole batches to vectorized native code).
    # Exactness is preserved operation-for-operation: RP_SCALE is a
    # power of two, so emb * RP_SCALE is an exact IEEE exponent shift
    # and np.floor == F.floor on the identical double; the ±1 sign
    # matmul and the squared-norm sum are int64 adds (order-
    # independent, overflow-free: |p_j| < 2^30, norm_in < 2^53). Only
    # (vec_id, embedding) crosses the Python boundary; the jl-ratio
    # report stays a Spark integer expression.
    e = load(spark, sf_dir, "embeddings", parallelize=True)

    def rp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        signs_t = np.array(RP_SIGNS, dtype=np.int64).T  # RP_DIM x RP_OUT
        cols = [f"p{j}" for j in range(RP_OUT)]
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {"vec_id": pd.Series([], dtype="int64"),
                     **{c: pd.Series([], dtype="int64") for c in cols},
                     "norm_in": pd.Series([], dtype="int64")}
                )
                continue
            emb = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            xs = np.floor(emb * float(RP_SCALE)).astype(np.int64)
            ps = xs @ signs_t
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for j, c in enumerate(cols):
                out[c] = ps[:, j]
            out["norm_in"] = (xs * xs).sum(axis=1)
            yield pd.DataFrame(out)

    p = e.select("vec_id", "embedding").mapInPandas(
        rp_batches,
        "vec_id long, "
        + ", ".join(f"p{j} long" for j in range(RP_OUT))
        + ", norm_in long",
    )
    norm_out = None
    for j in range(RP_OUT):
        t = F.col(f"p{j}") * F.col(f"p{j}")
        norm_out = t if norm_out is None else norm_out + t
    return p.select(
        "vec_id",
        *[f"p{j}" for j in range(RP_OUT)],
        "norm_in",
        norm_out.cast("bigint").alias("norm_out"),
        F.expr(
            f"(({' + '.join(f'p{j}*p{j}' for j in range(RP_OUT))}) div {1 << 20})"
            f" * 1000000 div ({RP_OUT} * (norm_in div {1 << 20}))"
        )
        .cast("bigint")
        .alias("jl_ratio_e6"),
    )


# ---------------------------------------------------------------------------
# personalized PageRank
# ---------------------------------------------------------------------------

PPR_SEEDS = (0, 5, 10)  # personalization set (nation keys)


def _ppr_oracle() -> str:
    seeds = ", ".join(str(s) for s in PPR_SEEDS)
    base = (
        f"CASE WHEN n.node IN ({seeds}) THEN {PR_BASE} ELSE 0 END"
    )
    ctes = [
        _PR_EDGE_CTES.strip().replace(
            f"r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS rank FROM nodes)",
            f"r0 AS (SELECT node, CAST(CASE WHEN node IN ({seeds}) "
            f"THEN {PR_SCALE} ELSE 0 END AS BIGINT) AS rank FROM nodes)",
        )
    ]
    for i in range(1, PR_ITERS + 1):
        ctes.append(f"""c{i} AS (
      SELECT e.dst AS node,
             SUM((85 * (r.rank // d.deg)) // 100) AS c
      FROM edges e
      JOIN r{i - 1} r ON r.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst)""")
        ctes.append(f"""r{i} AS (
      SELECT n.node,
             CAST({base} + COALESCE(c.c, 0) AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c{i} c ON c.node = n.node)""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT r.node, r.rank AS rank_units,
           r.node IN ({seeds}) AS is_seed,
           res.residual_units
    FROM r{PR_ITERS} r CROSS JOIN (
      SELECT CAST(SUM(ABS(a.rank - b.rank)) AS BIGINT) AS residual_units
      FROM r{PR_ITERS} a JOIN r{PR_ITERS - 1} b ON b.node = a.node) res"""
    )


@register("graph_ppr", oracle=_ppr_oracle())
def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the PPR_SEEDS nation set over the
    trade graph: the teleport mass returns to the SEEDS instead of
    spreading uniformly (rank-units init and 15% restart both
    seed-gated), so the stationary mass measures proximity TO the
    seeds — the recommendation/expansion primitive behind 'similar
    entities to these' queries, next to global pagerank (importance),
    HITS (hub/authority), and BFS landmarks (hop distance: PPR is its
    weighted, damping-discounted refinement). Same exact-integer
    regime, same per-iteration join+aggregate Pregel shape, same
    localCheckpoint lineage discipline, and the same residual_units
    convergence witness as graph_pagerank — one more unrolled-oracle
    iterative.

    Reference basis: extends the §2.B.11 graph family (the reference
    has no graph surface); personalization per Page et al. 1999 §6 /
    Jeh & Widom 2003."""
    ranks, res = _trade_pagerank(spark, sf_dir, PPR_SEEDS)
    return ranks.crossJoin(F.broadcast(res)).select(
        "node",
        F.col("rank").alias("rank_units"),
        F.col("node").isin(*PPR_SEEDS).alias("is_seed"),
        "residual_units",
    )


#: Audit-slice bound for the semantic-recall ground truth (the
#: dedup_lsh_recall_audit discipline: the exact all-pairs truth is the
#: expensive side, so it runs on a literal-bounded sample — at 100 TB
#: the slice is the sampled audit, the clustered path is production).
SEM_AUDIT_N = 400


@register(
    "dedup_semantic_recall_audit",
    oracle=f"""
    WITH {_km_chain(k_sql=_SEM_K_SQL)[0]},
    top2 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM {_km_chain(k_sql=_SEM_K_SQL)[1]})
      WHERE rn <= 2),
    psz AS (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS probe_pop
      FROM top2 GROUP BY 1),
    sen AS (
      SELECT vec_id, embedding,
             {_sql_dot('embedding', 'embedding')} AS nn
      FROM embeddings WHERE vec_id < {SEM_AUDIT_N}),
    truth AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM sen a JOIN sen b ON a.vec_id < b.vec_id
      WHERE round(({_sql_dot('a.embedding', 'b.embedding')} / 1e12)
                  / (sqrt(a.nn / 1e12) * sqrt(b.nn / 1e12)), 6)
            >= CAST({SEM_T} AS DOUBLE)),
    found AS (
      SELECT DISTINCT t.va, t.vb
      FROM truth t
      JOIN top2 ca ON ca.vec_id = t.va
      JOIN top2 cb ON cb.vec_id = t.vb AND cb.cluster = ca.cluster
      JOIN psz s ON s.cluster = ca.cluster
      WHERE s.probe_pop <= {SEM_CLUSTER_CAP})
    SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM found) AS n_found,
           (SELECT COUNT(*) FROM truth) - (SELECT COUNT(*) FROM found)
               AS n_missed,
           (SELECT COUNT(*) FROM found) * 1000000
             // greatest((SELECT COUNT(*) FROM truth), 1) AS recall_e6
    """,
)
def dedup_semantic_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Measured SemDeDup recall OF THE PRODUCTION DETECT PATH, not the
    paper's hope: ground-truth semantic-duplicate pairs (exact
    all-pairs cosine >= SEM_T on a literal-bounded audit slice)
    compared against what dedup_semantic_cluster's top-2 multi-probe
    candidate generation can SEE — pairs sharing ANY (under-cap) probe
    cluster. Cluster-boundary misses are SemDeDup's documented blind
    spot (two near-duplicates split across centroids are never
    compared); the second probe closes much of it (31.8% single-probe
    -> 64.2% top-2 at sf0.1, the promotion this round wired in), and
    this audit row keeps the REMAINING measured loss in-band (n_truth,
    n_found, n_missed, recall_e6) — the companion of
    dedup_lsh_recall_audit for the embedding family, recomputed on a
    sampled slice whenever the corpus or K drifts. It tracks the
    production rule by construction: same probe relation, same
    probe-population cap gate.

    Scale shape: the truth side is the expensive O(slice^2) exact join
    and is bounded by the SEM_AUDIT_N literal (the sanctioned audit
    pattern); the found side reuses the adaptive-K top-2 probe relation
    (broadcast-centroid join + keyed rank) plus two hash joins on
    vec_id; the ratios are exact integer arithmetic."""
    probes = _sem_probes(spark, sf_dir)
    psz = probes.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("probe_pop")
    )
    e = load(spark, sf_dir, "embeddings", parallelize=True)
    sen = e.filter(F.col("vec_id") < SEM_AUDIT_N).select(
        "vec_id",
        "embedding",
        dot_scaled(F.col("embedding"), F.col("embedding")).alias("nn"),
    )
    a = sen.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("nn").alias("na"),
    )
    b = sen.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("nn").alias("nb"),
    )
    truth = (
        a.join(b, F.col("va") < F.col("vb"))
        .filter(
            cosine_from_scaled(
                dot_scaled(F.col("ea"), F.col("eb")),
                F.col("na"),
                F.col("nb"),
            )
            >= F.lit(SEM_T)
        )
        .select("va", "vb")
        .localCheckpoint()  # reused by n_truth and the found join
    )
    ca = probes.select(
        F.col("vec_id").alias("va"), F.col("cluster").alias("cl_a")
    )
    cb = probes.select(
        F.col("vec_id").alias("vb"), F.col("cluster").alias("cl_b")
    )
    found = (
        truth.join(ca, "va")
        .join(cb, "vb")
        .filter(F.col("cl_a") == F.col("cl_b"))
        .join(
            F.broadcast(
                psz.filter(F.col("probe_pop") <= SEM_CLUSTER_CAP)
            ),
            F.col("cl_a") == F.col("cluster"),
            "left_semi",
        )
        .select("va", "vb")
        .distinct()
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_found = found.agg(F.count(F.lit(1)).alias("n_found"))
    return (
        n_truth.crossJoin(F.broadcast(n_found))
        .withColumn("n_missed", F.expr("n_truth - n_found"))
        .withColumn(
            "recall_e6",
            F.expr("n_found * 1000000 div greatest(n_truth, 1)"),
        )
    )


@register(
    "dedup_semantic_multiprobe_audit",
    oracle=f"""
    WITH {_km_chain(k_sql=_SEM_K_SQL)[0]},
    top2 AS (
      SELECT vec_id, cluster, rn FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM {_km_chain(k_sql=_SEM_K_SQL)[1]})
      WHERE rn <= 2),
    sen AS (
      SELECT vec_id, embedding,
             {_sql_dot('embedding', 'embedding')} AS nn
      FROM embeddings WHERE vec_id < {SEM_AUDIT_N}),
    truth AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM sen a JOIN sen b ON a.vec_id < b.vec_id
      WHERE round(({_sql_dot('a.embedding', 'b.embedding')} / 1e12)
                  / (sqrt(a.nn / 1e12) * sqrt(b.nn / 1e12)), 6)
            >= CAST({SEM_T} AS DOUBLE)),
    f1 AS (
      SELECT t.va, t.vb FROM truth t
      JOIN top2 ca ON ca.vec_id = t.va AND ca.rn = 1
      JOIN top2 cb ON cb.vec_id = t.vb AND cb.rn = 1
      WHERE ca.cluster = cb.cluster),
    f2 AS (
      SELECT DISTINCT t.va, t.vb FROM truth t
      JOIN top2 ca ON ca.vec_id = t.va
      JOIN top2 cb ON cb.vec_id = t.vb
      WHERE ca.cluster = cb.cluster)
    SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM f1) AS n_top1,
           (SELECT COUNT(*) FROM f2) AS n_top2,
           (SELECT COUNT(*) FROM f1) * 1000000
             // greatest((SELECT COUNT(*) FROM truth), 1)
               AS recall_top1_e6,
           (SELECT COUNT(*) FROM f2) * 1000000
             // greatest((SELECT COUNT(*) FROM truth), 1)
               AS recall_top2_e6
    """,
)
def dedup_semantic_multiprobe_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-PROBE semantic dedup, audited: assign every vector to its
    TOP-2 nearest centroids (the multi-probe/soft-assignment trick
    production ANN systems use to close cluster-boundary loss) and
    measure, against the exact slice truth, how much recall the second
    probe buys over single assignment — (n_truth, n_top1, n_top2,
    recall_top1_e6, recall_top2_e6) in one row. A truth pair is
    top2-visible when ANY of the two clusters is shared, so the
    candidate volume at most doubles twice (4x pair budget) for the
    measured recall gain; this is the tuning readout for whether the
    boundary loss dedup_semantic_recall_audit exposes is worth the
    extra probe at 100 TB.

    Scale shape: top-2 assignment is the same broadcast-centroid
    distance join plus a per-vector rank (partitioned window, never
    global); candidate generation stays cluster-keyed (explode factor
    2); the truth side is SEM_AUDIT_N-literal-bounded; ratios exact
    integers."""
    top2 = _sem_probes(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings", parallelize=True)
    sen = e.filter(F.col("vec_id") < SEM_AUDIT_N).select(
        "vec_id",
        "embedding",
        dot_scaled(F.col("embedding"), F.col("embedding")).alias("nn"),
    )
    a = sen.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("nn").alias("na"),
    )
    b = sen.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("nn").alias("nb"),
    )
    truth = (
        a.join(b, F.col("va") < F.col("vb"))
        .filter(
            cosine_from_scaled(
                dot_scaled(F.col("ea"), F.col("eb")),
                F.col("na"),
                F.col("nb"),
            )
            >= F.lit(SEM_T)
        )
        .select("va", "vb")
        .localCheckpoint()
    )
    ca = top2.withColumnsRenamed({"vec_id": "va", "cluster": "cl_a", "rn": "rn_a"})
    cb = top2.withColumnsRenamed({"vec_id": "vb", "cluster": "cl_b", "rn": "rn_b"})
    f1 = (
        truth.join(ca.filter(F.col("rn_a") == 1), "va")
        .join(cb.filter(F.col("rn_b") == 1), "vb")
        .filter(F.col("cl_a") == F.col("cl_b"))
        .select("va", "vb")
    )
    f2 = (
        truth.join(ca, "va")
        .join(cb, "vb")
        .filter(F.col("cl_a") == F.col("cl_b"))
        .select("va", "vb")
        .distinct()
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n1 = f1.agg(F.count(F.lit(1)).alias("n_top1"))
    n2 = f2.agg(F.count(F.lit(1)).alias("n_top2"))
    return (
        n_truth.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .withColumn(
            "recall_top1_e6",
            F.expr("n_top1 * 1000000 div greatest(n_truth, 1)"),
        )
        .withColumn(
            "recall_top2_e6",
            F.expr("n_top2 * 1000000 div greatest(n_truth, 1)"),
        )
    )


#: Boundary margin for the third probe: a vector is a BOUNDARY vector
#: when its top-1/top-2 distance gap is within 1/SEM_BOUNDARY_DEN of
#: d1 ((d2 - d1) * DEN <= d1, exact integers) — sitting between
#: centroids, exactly where top-2 visibility still misses pairs.
SEM_BOUNDARY_DEN = 10


@register(
    "dedup_semantic_boundary_audit",
    oracle=f"""
    WITH {_km_chain(k_sql=_SEM_K_SQL)[0]},
    r3 AS (
      SELECT vec_id, cluster, dist, rn FROM (
        SELECT vec_id, cluster, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM {_km_chain(k_sql=_SEM_K_SQL)[1]})
      WHERE rn <= 3),
    d12 AS (
      SELECT vec_id,
             MAX(CASE WHEN rn = 1 THEN dist END) AS d1,
             MAX(CASE WHEN rn = 2 THEN dist END) AS d2
      FROM r3 WHERE rn <= 2 GROUP BY 1),
    top2 AS (SELECT vec_id, cluster FROM r3 WHERE rn <= 2),
    p3 AS (
      SELECT r.vec_id, r.cluster
      FROM r3 r JOIN d12 g ON g.vec_id = r.vec_id
      WHERE r.rn <= 2
         OR (r.rn = 3 AND (g.d2 - g.d1) * {SEM_BOUNDARY_DEN} <= g.d1)),
    cand2 AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
      FROM top2 a JOIN top2 b
        ON b.cluster = a.cluster AND a.vec_id < b.vec_id),
    cand3 AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
      FROM p3 a JOIN p3 b
        ON b.cluster = a.cluster AND a.vec_id < b.vec_id),
    sen AS (
      SELECT vec_id, embedding,
             {_sql_dot('embedding', 'embedding')} AS nn
      FROM embeddings WHERE vec_id < {SEM_AUDIT_N}),
    truth AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM sen a JOIN sen b ON a.vec_id < b.vec_id
      WHERE round(({_sql_dot('a.embedding', 'b.embedding')} / 1e12)
                  / (sqrt(a.nn / 1e12) * sqrt(b.nn / 1e12)), 6)
            >= CAST({SEM_T} AS DOUBLE)),
    v2 AS (
      SELECT DISTINCT t.va, t.vb FROM truth t
      JOIN top2 ca ON ca.vec_id = t.va
      JOIN top2 cb ON cb.vec_id = t.vb AND cb.cluster = ca.cluster),
    v3 AS (
      SELECT DISTINCT t.va, t.vb FROM truth t
      JOIN p3 ca ON ca.vec_id = t.va
      JOIN p3 cb ON cb.vec_id = t.vb AND cb.cluster = ca.cluster)
    SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM v2) AS n_top2,
           (SELECT COUNT(*) FROM v3) AS n_top3b,
           (SELECT COUNT(*) FROM v2) * 1000000
             // greatest((SELECT COUNT(*) FROM truth), 1)
               AS recall_top2_e6,
           (SELECT COUNT(*) FROM v3) * 1000000
             // greatest((SELECT COUNT(*) FROM truth), 1)
               AS recall_top3b_e6,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM d12
            WHERE (d2 - d1) * {SEM_BOUNDARY_DEN} <= d1)
               AS n_boundary_vecs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand2) AS n_cand_top2,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand3) AS n_cand_top3b
    """,
)
def dedup_semantic_boundary_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The NEXT rung above production top-2 multiprobe, measured before
    anyone pays for it: vectors whose top-1/top-2 distance gap is
    within 1/SEM_BOUNDARY_DEN of d1 sit BETWEEN centroids (the
    census-bounded boundary set) and get a THIRD probe; the audit
    reports, against exact slice truth, the incremental recall
    (n_top2 vs n_top3b) AND the full-corpus candidate-pair budget both
    ways (n_cand_top2 vs n_cand_top3b — DISTINCT pairs entering the
    cosine check, the actual cost driver), plus the boundary census.
    Measured at sf0.1: recall 64.2% -> ~85% for ~2.1x the top-2 pair
    budget — the promotion economics for a third probe at 100 TB in
    one row. dedup_semantic_cluster stays top-2 until a consumer
    accepts that budget; this row is the evidence either way.

    Scale shape: the rank-3 probe relation is the broadcast-centroid
    distance join plus a KEYED window (3N rows); the boundary gate is
    an exact-integer census on a per-vector aggregate; candidate
    counting is cluster-keyed equi-joins with DISTINCT (never
    data x data); the truth side is SEM_AUDIT_N-literal-bounded; all
    ratios exact integers."""
    pts = _km_pts(spark, sf_dir)
    cent = _km_train(pts, k=_sem_k(spark, sf_dir))
    # Shuffle-free top-3 (see _sem_probes): struct-array sort + slice
    # replaces the keyed row_number() window bit for bit.
    srt3 = F.slice(F.array_sort(_km_cdists(F.col("xs"))), 1, 3)
    r3 = (
        pts.crossJoin(F.broadcast(_km_centmat(cent)))
        .select("vec_id", F.posexplode(srt3).alias("p", "cd"))
        .select(
            "vec_id",
            F.col("cd.cluster").alias("cluster"),
            F.col("cd.dist").alias("dist"),
            (F.col("p") + 1).cast("int").alias("rn"),
        )
        .localCheckpoint()  # reused by gates, candidates, visibility
    )
    d12 = r3.filter(F.col("rn") <= 2).groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("dist"))).alias("d1"),
        F.max(F.when(F.col("rn") == 2, F.col("dist"))).alias("d2"),
    )
    is_boundary = (F.col("d2") - F.col("d1")) * SEM_BOUNDARY_DEN <= F.col(
        "d1"
    )
    # One FLAGGED probe relation replaces the separate top2/p3 pair: a
    # probe row carries t2 = (rn <= 2), and because top2 is a subset of
    # p3 by construction, every top2-only census below is a flag
    # aggregate over the p3 pass — the former second self-join and
    # second truth-visibility join (each the audit's dominant cost)
    # disappear. Checkpointed: 2-3N tiny rows, 4 consumers (both pair
    # sides + both visibility sides).
    p3f = (
        r3.join(d12, "vec_id")
        .filter((F.col("rn") <= 2) | ((F.col("rn") == 3) & is_boundary))
        .select("vec_id", "cluster", (F.col("rn") <= 2).alias("t2"))
        .localCheckpoint()
    )

    def pair_count() -> DataFrame:
        # ONE cluster-keyed self-join; a pair is top2-visible iff SOME
        # shared cluster has both endpoints at rn<=2 (max over the
        # pair's clusters of ta AND tb) — identical to counting the
        # distinct pairs of the old top2-only join.
        a = p3f.select(
            F.col("cluster").alias("c"),
            F.col("vec_id").alias("va"),
            F.col("t2").alias("ta"),
        )
        b = p3f.select(
            F.col("cluster").alias("c"),
            F.col("vec_id").alias("vb"),
            F.col("t2").alias("tb"),
        )
        return (
            a.join(b, "c")
            .filter(F.col("va") < F.col("vb"))
            .groupBy("va", "vb")
            .agg(F.max(F.col("ta") & F.col("tb")).alias("is2"))
            .agg(
                F.coalesce(F.sum(F.col("is2").cast("int")), F.lit(0))
                .cast("bigint")
                .alias("n_cand_top2"),
                F.count(F.lit(1)).cast("bigint").alias("n_cand_top3b"),
            )
        )

    e = load(spark, sf_dir, "embeddings", parallelize=True)
    sen = e.filter(F.col("vec_id") < SEM_AUDIT_N).select(
        "vec_id",
        "embedding",
        dot_scaled(F.col("embedding"), F.col("embedding")).alias("nn"),
    )
    ta = sen.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("nn").alias("na"),
    )
    tb = sen.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("nn").alias("nb"),
    )
    truth = (
        ta.join(tb, F.col("va") < F.col("vb"))
        .filter(
            cosine_from_scaled(
                dot_scaled(F.col("ea"), F.col("eb")),
                F.col("na"),
                F.col("nb"),
            )
            >= F.lit(SEM_T)
        )
        .select("va", "vb")
        .localCheckpoint()
    )

    def visible() -> DataFrame:
        # ONE truth-visibility pass, same flag trick as pair_count: a
        # truth pair is top2-visible iff some shared cluster has both
        # endpoints at rn<=2.
        ca = p3f.select(
            F.col("vec_id").alias("va"),
            F.col("cluster").alias("cl_a"),
            F.col("t2").alias("ta"),
        )
        cb = p3f.select(
            F.col("vec_id").alias("vb"),
            F.col("cluster").alias("cl_b"),
            F.col("t2").alias("tb"),
        )
        return (
            truth.join(ca, "va")
            .join(cb, "vb")
            .filter(F.col("cl_a") == F.col("cl_b"))
            .groupBy("va", "vb")
            .agg(F.max(F.col("ta") & F.col("tb")).alias("is2"))
            .agg(
                F.coalesce(F.sum(F.col("is2").cast("int")), F.lit(0))
                .cast("bigint")
                .alias("n_top2"),
                F.count(F.lit(1)).cast("bigint").alias("n_top3b"),
            )
        )

    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    nb = d12.filter(is_boundary).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_boundary_vecs")
    )
    return (
        n_truth.crossJoin(F.broadcast(visible()))
        .withColumn(
            "recall_top2_e6",
            F.expr("n_top2 * 1000000 div greatest(n_truth, 1)"),
        )
        .withColumn(
            "recall_top3b_e6",
            F.expr("n_top3b * 1000000 div greatest(n_truth, 1)"),
        )
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(pair_count()))
        .select(
            "n_truth",
            "n_top2",
            "n_top3b",
            "recall_top2_e6",
            "recall_top3b_e6",
            "n_boundary_vecs",
            "n_cand_top2",
            "n_cand_top3b",
        )
    )


@register(
    "dedup_semantic_apply",
    oracle=f"""
    WITH sem AS ({_semdedup_oracle().strip()})
    SELECT CAST(s.cluster AS BIGINT) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN s.action = 'keep' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN s.action = 'prune' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pruned,
           CAST(SUM(CASE WHEN s.action = 'quarantine' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_quarantined,
           CAST(SUM(CASE WHEN s.action = 'keep' THEN e.label ELSE 0 END)
                AS BIGINT) AS kept_label_mass
    FROM sem s JOIN embeddings e ON e.vec_id = s.vec_id
    GROUP BY 1
    """,
)
def dedup_semantic_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic-dedup family's APPLY step (mirror of dedup_apply
    for the minhash family): per-cluster before/after census of the
    SemDeDup prune — members, kept, pruned, quarantined — plus a
    content witness over the SURVIVING set (the label mass of kept
    vectors, joined back against the source relation), the audit row a
    production semantic-prune run ships with. Detect (the pairwise
    phase) and apply (this anti-join-shaped census) stay separate so
    the expensive phase runs once and many consumers apply its
    verdicts.

    Scale shape: dedup_semantic_cluster's bounded plan plus one
    map-side-combinable rollup on the cluster key and one hash join
    back to the source on vec_id."""
    sem = dedup_semantic_cluster(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "label"
    )
    j = sem.join(e, "vec_id")
    return j.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum(F.when(F.col("action") == "keep", 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("action") == "prune", 1).otherwise(0))
        .cast("bigint")
        .alias("n_pruned"),
        F.sum(F.when(F.col("action") == "quarantine", 1).otherwise(0))
        .cast("bigint")
        .alias("n_quarantined"),
        F.sum(F.when(F.col("action") == "keep", F.col("label")).otherwise(0))
        .cast("bigint")
        .alias("kept_label_mass"),
    )
