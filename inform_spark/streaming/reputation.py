"""Continuous host-reputation gating — the streaming form of
``operators/reputation.host_reputation``.

A crawl never sees a host's documents all at once: reputation evidence
ACCRETES batch by batch, and each micro-batch's documents are verdicted
against the host statistics accumulated THROUGH that batch. Early
documents from a spam host can therefore pass before the evidence
hardens — that is the honest streaming semantics (re-verdicting history
is a batch job over the verdict log), and with a single batch the
verdicts equal the batch operator's output exactly (tested byte-equal).

State is two small parquet relations, both written per ``batch_id``
partition through the shared replay-idempotent kernel
(``streaming.microbatch``), so a replay overwrites its own rows and
cumulative sums never double-count:

- ``pairs`` — first-seen (source, text_hash): the batch's pairs that no
  earlier batch saw;
- ``stats`` — per-(source, batch_id) additive deltas (n_docs, q_sum,
  n_low, n_new_distinct), each computed deterministically from the batch
  plus the pairs index.

Scale: per batch, ONE groupBy(source) over the batch (map-side
combined longs), one anti-join probe of the pairs index on
(source, text_hash) (bucketable at scale, same class as the dedup
index probe), and a broadcast of the #hosts-row cumulative dim back
onto the batch. No state store, no watermark, no driver-side state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inform_spark.operators.reputation import PPM, quality_milli_col
from inform_spark.operators.textops import _h60
from inform_spark.streaming import microbatch as mb

PAIRS_SCHEMA = "source string, text_hash long, batch_id long"
STATS_SCHEMA = (
    "source string, n_docs long, q_sum long, n_low long, "
    "n_new_distinct long, batch_id long"
)
VERDICTS_SCHEMA = (
    "doc_id long, source string, quality_milli long, host_docs long, "
    "host_mean_quality_milli long, host_low_frac_ppm long, "
    "host_distinct_ppm long, host_blocked boolean, kept boolean, "
    "batch_id long"
)


def init_state(spark, state_dir: str) -> None:
    for name, schema in (("pairs", PAIRS_SCHEMA), ("stats", STATS_SCHEMA)):
        mb.seed(spark.createDataFrame([], schema), os.path.join(state_dir, name))


@mb.micro_batch
def process_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    verdicts_dir: str,
    min_mean_quality_milli: int = 350,
    max_low_frac_ppm: int = 600_000,
    min_distinct_ppm: int = 500_000,
    low_quality_milli: int = 300,
) -> None:
    """One reputation micro-batch: accrete host evidence, verdict the
    batch against the cumulative stats. Module-level so replay
    idempotence is directly testable."""
    spark = batch_df.sparkSession
    pairs_dir = os.path.join(state_dir, "pairs")
    stats_dir = os.path.join(state_dir, "stats")

    # at-least-once sources can repeat a doc_id inside one micro-batch,
    # possibly with DIFFERENT payloads; the survivor must be
    # DETERMINISTIC (min by (text_hash, source)) — dropDuplicates picks
    # by partition order, which would let a replay rebuild different
    # pairs/stats rows and corrupt the accreting state
    payload = ("text_hash", "source", "quality_milli")
    d = (
        batch_df.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("source"),
            quality_milli_col(),
            _h60(F.col("text")).alias("text_hash"),
        )
        .groupBy("doc_id")
        .agg(F.min(F.struct(*payload)).alias("__s"))
        .select("doc_id", *[F.col(f"__s.{c}").alias(c) for c in payload])
        .persist()
    )

    # 1) first-seen (source, text_hash) pairs: those no earlier batch saw
    seen = mb.prior(spark, pairs_dir, PAIRS_SCHEMA, batch_id)
    new_pairs = d.select("source", "text_hash").distinct()
    mb.write(new_pairs.join(seen, ["source", "text_hash"], "left_anti"),
             pairs_dir, batch_id)

    # 2) per-batch additive stats delta — every column is deterministic
    # given the batch and the pairs index
    own_distinct = (
        mb.own(spark, pairs_dir, PAIRS_SCHEMA, batch_id)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_distinct"))
    )
    delta = (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("quality_milli").cast("long").alias("q_sum"),
            F.sum((F.col("quality_milli") < low_quality_milli).cast("long"))
            .alias("n_low"),
        )
        .join(own_distinct, "source", "left")
        .fillna(0, ["n_new_distinct"])
    )
    mb.write(delta, stats_dir, batch_id)

    # 3) cumulative stats THROUGH this batch (the prior of the next one,
    # so leftover later partitions after a rollback never count) -> host
    # dim -> verdicts
    cum = (
        mb.prior(spark, stats_dir, STATS_SCHEMA, batch_id + 1)
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("long").alias("host_docs"),
            F.sum("q_sum").cast("long").alias("__qsum"),
            F.sum("n_low").cast("long").alias("__nlow"),
            F.sum("n_new_distinct").cast("long").alias("__ndist"),
        )
        .select(
            "source",
            "host_docs",
            F.expr("__qsum div host_docs").alias("host_mean_quality_milli"),
            F.expr(f"(__nlow * {PPM}) div host_docs").alias("host_low_frac_ppm"),
            F.expr(f"(__ndist * {PPM}) div host_docs").alias("host_distinct_ppm"),
        )
        .withColumn(
            "host_blocked",
            (F.col("host_mean_quality_milli") < min_mean_quality_milli)
            | (F.col("host_low_frac_ppm") > max_low_frac_ppm)
            | (F.col("host_distinct_ppm") < min_distinct_ppm),
        )
    )
    verdicts = d.drop("text_hash").join(F.broadcast(cum), "source").select(
        "doc_id", "source", "quality_milli", "host_docs", "host_mean_quality_milli",
        "host_low_frac_ppm", "host_distinct_ppm", "host_blocked",
        (~F.col("host_blocked")).alias("kept"),
    )
    mb.write(verdicts, verdicts_dir, batch_id)
    d.unpersist()


def reputation_stream(stream: DataFrame, state_dir: str, verdicts_dir: str,
                      checkpoint_dir: str, **thresholds):
    """Run the continuous reputation loop on a streaming (doc_id,
    source, text) DataFrame. Returns the StreamingQuery."""
    return mb.start(stream, checkpoint_dir, lambda df, bid: process_batch(
        df, bid, state_dir, verdicts_dir, **thresholds))
