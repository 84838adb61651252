"""The replay-idempotent micro-batch kernel every ``foreachBatch`` loop in
this package runs on. It alone owns the rule that makes a batch safe to
replay; each loop keeps only its verdict logic.

``foreachBatch`` is at-least-once: after a crash between a batch's
writes and the streaming checkpoint commit, Spark re-invokes the loop
with the same (rows, batch_id). The rule:

- every table a loop writes (verdicts, and index/pairs/stats/register/
  code tables alike) goes through :func:`write`, which stamps the rows
  with ``batch_id`` and dynamically overwrites that ONE partition — a
  replay replaces its crashed attempt's rows instead of adding to them;
- a loop probes accreted state only through :func:`prior`
  (``batch_id < current``): a replay never sees its own crashed
  attempt's rows, while a key that legitimately comes back in a later
  batch (a re-crawl under the same id) still meets its earlier self;
- seeds (``init_*``) are written by :func:`seed` as partition
  ``batch_id = -1``, which every batch's probe includes. A root-level
  seed file would be silently dropped by the reader once any
  ``batch_id=k/`` partition exists.

Each batch is persisted for the length of its loop and empty batches
are skipped (:func:`micro_batch`), so a zero-row first
trigger never leaves a schema-less directory behind; :func:`read`
returns an empty frame for a table no batch has created yet.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEED_BATCH = -1


def micro_batch(process):
    """Decorate a loop's ``process_batch(batch_df, batch_id, ...)`` so
    an empty batch is a no-op — for the stream and for direct calls —
    and the batch is computed once: it is persisted for the loop's
    several Spark actions (an image batch would otherwise re-decode its
    media for each one) and released when the loop returns or raises."""

    @functools.wraps(process)
    def run(batch_df: DataFrame, batch_id: int, *args, **kwargs) -> None:
        batch_df = batch_df.persist()
        try:
            if not batch_df.isEmpty():
                process(batch_df, batch_id, *args, **kwargs)
        finally:
            batch_df.unpersist()

    return run


def start(stream: DataFrame, checkpoint_dir: str, process):
    """Start ``process(batch_df, batch_id)`` over ``stream`` as an
    ``availableNow`` query checkpointed at ``checkpoint_dir``; returns
    the StreamingQuery (the caller awaits termination)."""
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _write(df: DataFrame, path: str, batch_id: int, mode: str) -> None:
    df.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
        "overwrite"
    ).partitionBy("batch_id").option("partitionOverwriteMode", mode).parquet(
        path
    )


def write(df: DataFrame, path: str, batch_id: int) -> None:
    """Replace partition ``batch_id`` of the table at ``path`` with
    ``df``; every other partition is left as it is."""
    _write(df, path, batch_id, "dynamic")


def seed(df: DataFrame, path: str) -> None:
    """(Re)create the table at ``path`` holding only ``df`` as the seed
    partition ``batch_id = -1``."""
    _write(df, path, SEED_BATCH, "static")


def read(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """The whole table under an explicit schema (so ``batch_id`` reads
    back as long, not the inferred int); empty if it does not exist."""
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def prior(spark: SparkSession, path: str, schema: str, batch_id: int) -> DataFrame:
    """The rows written before batch ``batch_id``, seed included — all
    a batch may probe."""
    return read(spark, path, schema).filter(F.col("batch_id") < batch_id)


def own(spark: SparkSession, path: str, schema: str, batch_id: int) -> DataFrame:
    """The rows batch ``batch_id`` just wrote, read back from its
    partition instead of recomputing their lineage."""
    return read(spark, path, schema).filter(F.col("batch_id") == batch_id)
