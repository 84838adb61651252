"""Streaming content-addressed chunk ingest — the streaming form of
``operators.chunking.cdc_chunks``.

A content-addressed store (the LBFS/restic/borg shape, and the delta
layer a recrawl pipeline puts in front of raw storage) never rebuilds:
documents ARRIVE, each is CDC-chunked, chunks whose hash the index has
already seen cost nothing, and new chunks are stored and appended to the
persisted chunk-hash index.

- **ownership is deterministic**: within a micro-batch, a chunk hash is
  stored by its min-doc_id occurrence; a doc's repeated own chunk
  stores once and dups the rest; across batches, first arrival wins.
  With one batch over an empty index the per-doc stored/dup split
  equals the sequential reference (asserted in tests);
- **replay-safe** through the shared kernel (``streaming.microbatch``):
  a replay appends nothing twice, and a doc that comes back later stores
  only the chunks the index lacks;
- **state is the index table**: no state store, no watermark; at scale
  an Iceberg table bucketed by chunk hash, so each probe is co-located.

Per-doc verdicts: ``(doc_id, n_chunks, stored_chunks, stored_tokens,
dup_chunks, dup_tokens, batch_id)``. Unlike batch ``cdc_chunks``, which
measures REDUNDANCY (both copies of a duplicated chunk count as dup),
the ingest measures STORE COST (the first copy is stored, only later
copies are dup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inform_spark.streaming import microbatch as mb

INDEX_SCHEMA = "h long, owner long, batch_id long"
VERDICTS_SCHEMA = (
    "doc_id long, n_chunks long, stored_chunks long, stored_tokens long, "
    "dup_chunks long, dup_tokens long, batch_id long"
)


def _chunks(docs: DataFrame, w: int, divisor: int) -> DataFrame:
    from inform_spark.operators.chunking import chunk_structs

    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(chunk_structs("text", w, divisor)).alias("c"),
    )


def init_chunk_index(spark: SparkSession, index_dir: str,
                     docs: DataFrame | None = None, w: int = 4,
                     divisor: int = 8) -> None:
    """Create the persisted chunk-hash index, optionally seeded from an
    existing corpus (owner = min doc_id per chunk hash)."""
    mb.seed(
        _chunks(docs, w, divisor).groupBy(F.col("c.h").alias("h"))
        .agg(F.min("doc_id").alias("owner"))
        if docs is not None
        else spark.createDataFrame([], INDEX_SCHEMA),
        index_dir,
    )


@mb.micro_batch
def process_batch(batch_df: DataFrame, batch_id: int, index_dir: str,
                  verdicts_dir: str, w: int = 4, divisor: int = 8) -> None:
    """One ingest micro-batch — module-level so replay idempotence is
    directly testable."""
    index = mb.prior(batch_df.sparkSession, index_dir, INDEX_SCHEMA, batch_id)
    # (doc_id, h, cnt, tk): per-doc chunk-hash multiplicity; tk is
    # constant per h (same content => same token count)
    ch = (
        _chunks(batch_df, w, divisor)
        .groupBy("doc_id", F.col("c.h").alias("h"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("c.tk").alias("tk"))
        .persist()
    )
    batch_owner = ch.groupBy("h").agg(F.min("doc_id").alias("__bowner"))
    stored = (
        F.when(F.col("__iowner").isNotNull(), F.lit(0))
        .when(F.col("__bowner") < F.col("doc_id"), F.lit(0))
        .otherwise(F.lit(1))
    )
    probed = (
        ch.join(index.select("h", F.col("owner").alias("__iowner")), "h", "left")
        .join(batch_owner, "h")
        .withColumn("__stored", stored)
        .withColumn("__dup", F.col("cnt") - F.col("__stored"))
    )
    verdicts = probed.groupBy("doc_id").agg(*[
        F.sum(c).cast("long").alias(name) for name, c in (
            ("n_chunks", F.col("cnt")),
            ("stored_chunks", F.col("__stored")),
            ("stored_tokens", F.col("__stored") * F.col("tk")),
            ("dup_chunks", F.col("__dup")),
            ("dup_tokens", F.col("__dup") * F.col("tk")),
        )
    ])
    mb.write(verdicts, verdicts_dir, batch_id)
    # the batch's own first occurrences that the prior index lacks
    new_chunks = (
        ch.join(batch_owner, "h")
        .filter(F.col("doc_id") == F.col("__bowner"))
        .select("h", F.col("doc_id").alias("owner"))
        .distinct()
        .join(index, "h", "left_anti")
    )
    mb.write(new_chunks, index_dir, batch_id)
    ch.unpersist()


def chunk_ingest_stream(stream: DataFrame, index_dir: str, verdicts_dir: str,
                        checkpoint_dir: str, w: int = 4, divisor: int = 8):
    """Wire the ingest loop as a streaming query over (doc_id, text)."""
    return mb.start(stream, checkpoint_dir, lambda df, bid: process_batch(
        df, bid, index_dir, verdicts_dir, w, divisor))


def read_chunk_verdicts(spark: SparkSession, verdicts_dir: str) -> DataFrame:
    return mb.read(spark, verdicts_dir, VERDICTS_SCHEMA)
