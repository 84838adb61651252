"""Continuous-ingest incremental dedup — the streaming form of
``operators.components.minhash_incremental``.

A production corpus is not rebuilt; it ACCRETES: each arriving document
is judged against the band-key index of everything already accepted,
kept documents' band keys are appended to the index, and duplicates are
tombstoned with an attribution. The stream is any streaming DataFrame
of (doc_id, text) — file source, Kafka, or the crawl engine's documents.

In-batch duplicates resolve exactly like the batch operator (connected
components, min doc_id survives); across batches first arrival wins,
like the crawl engine's seen-set. A single batch is byte-identical to
the batch operator. A micro-batch's survivor pair graph is small (a few
dozen nodes), so ``connected_components`` labels it on the driver after
one bounded collect instead of running a Spark job per propagation round.

Replay safety is the shared kernel's (``streaming.microbatch``): a
replay reproduces identical verdicts and appends nothing twice, and a
doc that comes back in a later batch is ``dup_of_index`` of its earlier
self.

Scale: state lives entirely in the index table (~4 band keys per doc,
bucketed by band_key at scale so each probe touches only matching
buckets) — no state store, no watermark, no driver memory growth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inform_spark.streaming import microbatch as mb

BANDS_SCHEMA = "doc_id long, band_key string, batch_id long"
VERDICTS_SCHEMA = "doc_id long, verdict string, match_id long, batch_id long"


def init_index(spark: SparkSession, index_dir: str, docs: DataFrame | None = None,
               k: int = 8, band: int = 2) -> None:
    """Create the persisted band-key index, optionally seeded with an
    existing corpus. At scale: an Iceberg table bucketed by band_key."""
    from inform_spark.operators import textops

    mb.seed(
        textops.minhash_band_keys(docs, k, band)
        if docs is not None
        else spark.createDataFrame([], BANDS_SCHEMA),
        index_dir,
    )


@mb.micro_batch
def process_batch(batch_df: DataFrame, batch_id: int, index_dir: str,
                  verdicts_dir: str, k: int = 8, band: int = 2) -> None:
    """One micro-batch of the dedup loop — module-level so replay
    idempotence is directly testable."""
    from inform_spark.operators import textops
    from inform_spark.operators.components import connected_components

    spark = batch_df.sparkSession
    index = mb.prior(spark, index_dir, BANDS_SCHEMA, batch_id)
    # the index already IS band keys, so the minhash_incremental probe is
    # inlined against it (no re-signature of the corpus)
    nb = textops.minhash_band_keys(batch_df, k, band).persist()
    hits = (
        nb.join(index.select(F.col("doc_id").alias("__idx"), "band_key"), "band_key")
        .groupBy("doc_id")
        .agg(F.min("__idx").alias("__hit"))
    )
    comp = connected_components(
        textops.star_pairs_from_bands(nb.join(hits, "doc_id", "left_anti")), "a", "b"
    ).withColumnRenamed("v", "doc_id")
    lost = F.col("component") != F.col("doc_id")
    verdicts = (
        batch_df.select("doc_id").distinct()
        .join(hits, "doc_id", "left")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("__hit").isNotNull(), F.lit("dup_of_index"))
            .when(F.col("component").isNotNull() & lost, F.lit("dup_of_new"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
            F.coalesce("__hit", F.when(lost, F.col("component"))).alias("match_id"),
        )
    )
    mb.write(verdicts, verdicts_dir, batch_id)
    kept_ids = (
        mb.own(spark, verdicts_dir, VERDICTS_SCHEMA, batch_id)
        .filter(F.col("verdict") == "kept")
        .select("doc_id")
    )
    kept_bands = nb.join(kept_ids, "doc_id", "left_semi").select("doc_id", "band_key")
    mb.write(kept_bands, index_dir, batch_id)
    nb.unpersist()


def dedup_stream(stream: DataFrame, index_dir: str, verdicts_dir: str,
                 checkpoint_dir: str, k: int = 8, band: int = 2):
    """Run the continuous dedup loop on a streaming (doc_id, text)
    DataFrame; returns the StreamingQuery. Every micro-batch probes the
    index, writes (doc_id, verdict, match_id, batch_id) to
    ``verdicts_dir`` and appends the kept docs' band keys to
    ``index_dir``."""
    return mb.start(stream, checkpoint_dir, lambda df, bid: process_batch(
        df, bid, index_dir, verdicts_dir, k, band))


def read_verdicts(spark: SparkSession, verdicts_dir: str) -> DataFrame:
    return mb.read(spark, verdicts_dir, VERDICTS_SCHEMA)
