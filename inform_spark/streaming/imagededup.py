"""Continuous-ingest incremental IMAGE dedup — the streaming form of
``operators.multimodal.phash_incremental``, mirroring
``streaming.dedup`` for text.

The image corpus accretes like the text corpus: crawl output delivers a
continuous stream of (media_ref, phash) features (from
``multimodal.image_features`` — real decode for PNG/BMP/GIF/baseline
JPEG since round 5), each arriving image is judged against the
persisted perceptual-hash band index of everything already accepted,
kept images' hashes are appended to the index, duplicates are
tombstoned with an attribution. Per micro-batch, the loop loads
the persisted store (parquet; at scale an Iceberg table bucketed by
band_key so the probe join is co-located) and calls the SAME batch
operator (``phash_incremental`` with ``index_bands=``) — one
implementation, so the streaming form cannot drift.

Semantics inherited from the batch operator: probes run at the
DISTINCT-phash level (a hot-logo delta costs one probe row), in-batch
duplicates resolve by connected components with the min media_ref
surviving, and survivor-only transitivity holds across batches:
first-arrival wins, like the engine's URL-seen set.

Replay safety is the shared kernel's (``streaming.microbatch``):
verdicts and index rows are written per ``batch_id`` partition and the
probe reads only earlier batches, so a replay reproduces identical
verdicts and appends nothing twice, and an image that comes back in a
later batch is ``dup_of_index`` of its earlier self.

Scale: state lives entirely in the index table — no state store, no
watermark, no driver memory growth; a 10^10-image corpus's index is 4
rows per DISTINCT phash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inform_spark.streaming import microbatch as mb

INDEX_SCHEMA = "phash long, band_key string, anchor string, batch_id long"
VERDICTS_SCHEMA = "media_ref string, verdict string, match_ref string, batch_id long"


def init_index(spark: SparkSession, index_dir: str,
               feats: DataFrame | None = None) -> None:
    """Create the persisted phash band store, optionally seeded with an
    existing image corpus's features. At scale: an Iceberg table
    bucketed by band_key."""
    from inform_spark.operators.multimodal import phash_band_index

    mb.seed(
        phash_band_index(feats)
        if feats is not None
        else spark.createDataFrame([], INDEX_SCHEMA),
        index_dir,
    )


@mb.micro_batch
def process_batch(batch_df: DataFrame, batch_id: int, index_dir: str,
                  verdicts_dir: str, hamming_max: int = 3) -> None:
    """One micro-batch of the image-dedup loop — module-level so replay
    idempotence is directly testable."""
    from inform_spark.operators.multimodal import phash_band_index, phash_incremental

    spark = batch_df.sparkSession
    index = mb.prior(spark, index_dir, INDEX_SCHEMA, batch_id)
    verdicts = phash_incremental(batch_df, index_bands=index, hamming_max=hamming_max)
    mb.write(verdicts, verdicts_dir, batch_id)
    kept_refs = (
        mb.own(spark, verdicts_dir, VERDICTS_SCHEMA, batch_id)
        .filter(F.col("verdict") == "kept")
        .select("media_ref")
    )
    kept = batch_df.join(kept_refs, "media_ref", "left_semi")
    mb.write(phash_band_index(kept.select("media_ref", "phash")), index_dir, batch_id)


def image_dedup_stream(stream: DataFrame, index_dir: str, verdicts_dir: str,
                       checkpoint_dir: str, hamming_max: int = 3):
    """Run the continuous image-dedup loop on a streaming
    (media_ref, phash) DataFrame. Returns the StreamingQuery (caller
    awaits termination)."""
    return mb.start(stream, checkpoint_dir, lambda df, bid: process_batch(
        df, bid, index_dir, verdicts_dir, hamming_max))


def read_verdicts(spark: SparkSession, verdicts_dir: str) -> DataFrame:
    return mb.read(spark, verdicts_dir, VERDICTS_SCHEMA)
