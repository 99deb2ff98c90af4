"""Streaming incremental dedup (SURVEY.md §2.B.9 x B.13): the
batch/stream symmetry closer for the production dedup shape.

``dedup_incremental_minhash`` (operators/training.py) is the BATCH form
of the production pipeline: a persisted LSH bucket index per corpus
epoch, deltas checked against it in O(delta collisions). In production
the deltas do not arrive as one batch — they LAND AS FILES (an ingest
queue), and the dedup decision should flow per micro-batch. This module
is that flow: the delta docs are staged as multiple parquet files, a
file-source stream drains them one file per trigger
(``maxFilesPerTrigger=1``), and each micro-batch

  1. computes minhash signatures + band buckets from the ARRIVING TEXT
     (the real ingest work — nothing is looked up by id),
  2. equi-joins them against the PERSISTED capped bucket index
     (stream-static join shape; the cap lives on the index side, which
     is exactly why over-cap buckets pair nothing in either engine),
  3. exact-Jaccard-verifies the candidates against the corpus text
     store and appends the confirmed pairs to the result table.

After the availableNow drain, the accumulated result (distinct — a
delta-delta pair is discovered once from each side's micro-batch) must
equal the batch twin's output exactly; the oracle IS the batch twin's
oracle. Reference tie-in: the reference's unimplemented plan item
"parallel/continuous processing of many files" (README.md:95-96),
instantiated for its most valuable workload (incremental corpus
hygiene).

Scale: state is bounded (foreachBatch holds nothing between batches —
the persisted index and the appended results are tables, not memory),
each micro-batch costs O(batch collisions), and the final distinct is
over report-sized pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_extractors_api_spark.catalog import load
from metadata_extractors_api_spark.registry import register
from metadata_extractors_api_spark.store import memo, scratch_dir
from metadata_extractors_api_spark.streaming.windows import drain

RESULT_SCHEMA = (
    "doc_a BIGINT, doc_b BIGINT, jaccard DOUBLE, pair_class STRING"
)

#: number of staged delta files == number of micro-batches.
N_DELTA_FILES = 3


def _batch_twin_oracle() -> str:
    from metadata_extractors_api_spark.operators.training import (
        _incremental_minhash_oracle,
    )

    return _incremental_minhash_oracle()


@register("stream_dedup_incremental", oracle=_batch_twin_oracle())
def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batched incremental dedup: delta docs arrive as files,
    each micro-batch is signatured from its text and LSH-joined against
    the persisted corpus bucket index, and verified pairs accumulate in
    the result table. Final state == the batch twin
    (``dedup_incremental_minhash``), asserted by sharing its oracle
    verbatim — the strongest batch/stream symmetry the engine can
    state. The stream is deterministic and its inputs immutable, so it
    drains once per session."""
    from metadata_extractors_api_spark.operators.llm import (
        _minhash_band_buckets,
        exact_jaccard_verify,
        minhash_signatures,
    )
    from metadata_extractors_api_spark.operators.training import (
        DELTA_MOD,
        _minhash_bucket_index,
    )

    def build() -> str:
        d = load(spark, sf_dir, "documents", parallelize=True)
        delta = d.filter(F.col("doc_id") % DELTA_MOD == 0)
        delta_dir = scratch_dir("stream_delta_")
        # stage the ingest queue: N files -> N micro-batches, split
        # deterministically so every run stages identical files
        for i in range(N_DELTA_FILES):
            delta.filter(
                (F.col("doc_id") / DELTA_MOD).cast("bigint") % N_DELTA_FILES
                == i
            ).coalesce(1).write.mode("append").parquet(delta_dir)

        index = _minhash_bucket_index(spark, sf_dir)
        out_dir = scratch_dir("stream_dedup_out_")

        def process(batch_df: DataFrame, _batch_id: int) -> None:
            b = _minhash_band_buckets(minhash_signatures(batch_df))
            cand = (
                index.alias("a")
                .join(
                    b.alias("b"),
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
            jac = exact_jaccard_verify(d, cand).filter(F.col("jaccard") >= 0.5)
            jac.select(
                "doc_a",
                "doc_b",
                "jaccard",
                F.when(
                    (F.col("doc_a") % DELTA_MOD == 0)
                    & (F.col("doc_b") % DELTA_MOD == 0),
                    F.lit("delta-delta"),
                )
                .otherwise(F.lit("delta-index"))
                .alias("pair_class"),
            ).write.mode("append").parquet(out_dir)

        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(delta_dir)
        )
        drain(spark, stream.writeStream.foreachBatch(process))
        return out_dir

    out_dir = memo(spark, ("stream_dedup_incremental", sf_dir), build)
    return spark.read.schema(RESULT_SCHEMA).parquet(out_dir).distinct()
