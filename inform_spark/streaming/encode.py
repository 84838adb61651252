"""Continuous-ingest PQ encoding — the streaming form of
``operators.clustering.pq_codes``.

A production embedding corpus accretes: new documents are embedded and
must land in the compressed (code) store continuously, while the
codebook itself stays FROZEN — retraining per batch would silently
shift every previously-issued code (the same reason
``streaming/curation`` freezes its reference stats). This module runs
that loop as a Structured Streaming query on the shared micro-batch
kernel (``streaming.microbatch``):

- the codebook is trained ONCE (``init_codebook``, typically on a seed
  sample) and persisted as the tiny (sub, cid, cv) relation — the
  broadcast dimension every batch joins against;
- per micro-batch, the loop loads the frozen codebook and runs
  the identical deterministic batch encoder
  (``clustering.encode_with_codebook`` — broadcast join + argmin, zero
  corpus shuffle beyond the per-vid rollup), appending (vid, codes,
  qerr, batch_id);
- because each vector's code depends ONLY on the vector and the frozen
  codebook, the output is independent of how the stream is chopped
  into micro-batches — byte-identical to the batch encoder over the
  same rows (asserted in ``tests/test_streaming_encode.py``).

Replay safety is the kernel's: each batch's codes are its own
``batch_id`` partition, so a replay rewrites identical rows and
duplicates nothing.

Scale: no state store, no watermark, no driver state — the only state
is the frozen codebook (m*k rows) and the append-only code store
(at 100 TB: an Iceberg table partitioned by ingest batch/day, codes
4 B/vector in binary layout vs 256 B of floats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inform_spark.streaming import microbatch as mb

CODEBOOK_SCHEMA = "sub int, cid long, cv array<bigint>"


def init_codebook(spark: SparkSession, codebook_dir: str, seed_emb: DataFrame,
                  m: int = 4, k: int = 8, iterations: int = 2) -> None:
    """Train the codebook on the seed corpus and freeze it to parquet.
    At scale: train on a sample, publish to a shared dimension table."""
    from inform_spark.operators.clustering import train_codebook

    train_codebook(seed_emb, m=m, k=k, iterations=iterations).select(
        F.col("sub").cast("int").alias("sub"),
        F.col("cid").cast("long").alias("cid"),
        F.col("cv").cast("array<bigint>").alias("cv"),
    ).write.mode("overwrite").parquet(codebook_dir)


@mb.micro_batch
def process_batch(batch_df: DataFrame, batch_id: int, codebook_dir: str,
                  codes_dir: str, m: int = 4) -> None:
    """One micro-batch of the encode loop — module-level so replay
    idempotence is directly testable."""
    from inform_spark.operators.clustering import encode_with_codebook

    cents = batch_df.sparkSession.read.schema(CODEBOOK_SCHEMA).parquet(codebook_dir)
    mb.write(encode_with_codebook(batch_df, cents, m), codes_dir, batch_id)


def run_stream(stream_emb: DataFrame, codebook_dir: str, codes_dir: str,
               checkpoint_dir: str, m: int = 4):
    """Wire the loop as a streaming query. ``stream_emb`` is any
    streaming DataFrame of (vec_id, embedding)."""
    return mb.start(stream_emb, checkpoint_dir, lambda df, bid: process_batch(
        df, bid, codebook_dir, codes_dir, m))
