"""Continuous cardinality tracking — the streaming form of
``operators.sketches`` HyperLogLog.

The crawl engine emits documents in micro-batches; the question "how
many distinct URLs has each host contributed SO FAR?" must be
answerable after every batch without rescanning history. Exact
count-distinct needs all history; the HLL register table doesn't —
registers are a max-semilattice, so per-batch registers simply
accumulate and the merged view is a groupBy MAX.

Design (the state is mergeable, so no read-modify-append cycle exists
at all):
- per micro-batch, the loop computes the BATCH's own registers
  (``hll_registers`` — one narrow pass + one map-side-combine groupBy)
  and writes them as its own ``batch_id`` partition through the shared
  replay-idempotent kernel (``streaming.microbatch``), with no
  cross-batch read in the write path;
- the READ path merges all partitions with MAX(register) and feeds
  ``hll_estimate`` — estimates after batch k are byte-identical to a
  single batch build over batches 0..k (the semilattice law
  ``tests/test_sketches.py::test_merge_equals_whole`` pins, asserted
  again end-to-end here by ``tests/test_streaming_cardinality.py``);
- compaction is optional and harmless: replacing all partitions with
  their merged MAX changes nothing downstream (same law).

The precision ``p`` is PERSISTED with every register row and validated
on read: registers built at different p are not mergeable (different
bucket spaces), and estimating at the wrong p silently produces
garbage — so ``merged_registers``/``estimates`` derive p from the
table, raise on a mixed-p table, and raise if a caller-passed p
contradicts the stored one. Reading a table no batch has created yet
returns ZERO rows (monitors may poll before the first data arrives).

State size: <= m rows per (key, batch) before compaction, m rows per
key after — never proportional to items seen. Keys are a single
``key`` string column; callers with composite keys concat them
(engine-portable, keeps the persisted schema fixed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inform_spark.streaming import microbatch as mb

REGS_SCHEMA = "key string, bucket int, register int, p int, batch_id long"


@mb.micro_batch
def process_batch(batch_df: DataFrame, batch_id: int, regs_dir: str,
                  item_col: str = "item", key_col: str = "key", p: int = 6,
                  salt: str = "hll") -> None:
    """One micro-batch: write this batch's registers as its own
    batch_id partition. Module-level so replay idempotence is directly
    testable."""
    from inform_spark.operators.sketches import hll_registers

    keyed = batch_df.select(F.col(key_col).alias("key"), F.col(item_col))
    regs = hll_registers(keyed, item_col, ["key"], p=p, salt=salt)
    mb.write(regs.withColumn("p", F.lit(p).cast("int")), regs_dir, batch_id)


def table_p(spark: SparkSession, regs_dir: str,
            expected: int | None = None) -> int | None:
    """The single precision the table was built at (None if the table
    is empty). Raises on a mixed-p table — registers at different p
    occupy different bucket spaces and must never be max-merged — and
    on a caller expectation that contradicts the stored value."""
    regs = mb.read(spark, regs_dir, REGS_SCHEMA)
    ps = sorted(r["p"] for r in regs.select("p").distinct().collect())
    if len(ps) > 1:
        raise ValueError(f"register table {regs_dir} mixes precisions {ps}")
    stored = ps[0] if ps else None
    if expected is not None and stored is not None and stored != expected:
        raise ValueError(
            f"register table {regs_dir} was built at p={stored}, "
            f"caller expected p={expected}"
        )
    return stored


def merged_registers(spark: SparkSession, regs_dir: str) -> DataFrame:
    """(key, bucket, register) — the MAX-merge of every batch's
    registers; identical to a whole-history single build."""
    return (
        mb.read(spark, regs_dir, REGS_SCHEMA)
        .groupBy("key", "bucket")
        .agg(F.max("register").alias("register"))
    )


def estimates(spark: SparkSession, regs_dir: str, p: int | None = None) -> DataFrame:
    """(key, n_zero_registers, sum_scaled, est_milli) over everything
    ingested so far; p is read from the table (pass it only to assert
    an expectation). Zero rows before the first batch lands."""
    from inform_spark.operators.sketches import hll_estimate

    stored = table_p(spark, regs_dir, expected=p)
    eff = stored if stored is not None else (p if p is not None else 6)
    return hll_estimate(merged_registers(spark, regs_dir), ["key"], p=eff)


def compact(spark: SparkSession, regs_dir: str, out_dir: str) -> None:
    """Fold all batch partitions into one merged snapshot written to
    ``out_dir`` (batch_id -1). Optional and harmless: estimates are
    identical before and after (max is idempotent/associative); this
    only bounds file/partition count. Fully distributed — the swap of
    ``out_dir`` for ``regs_dir`` is the caller's catalog-level rename
    (at scale: an Iceberg rewrite_data_files commit), never a
    driver-side copy."""
    p = F.lit(table_p(spark, regs_dir)).cast("int")
    mb.seed(merged_registers(spark, regs_dir).withColumn("p", p), out_dir)


def cardinality_stream(stream: DataFrame, regs_dir: str, checkpoint_dir: str,
                       item_col: str = "item", key_col: str = "key", p: int = 6,
                       salt: str = "hll"):
    """Run the tracking loop on a streaming (key, item) DataFrame.
    Returns the StreamingQuery (caller awaits termination)."""
    return mb.start(stream, checkpoint_dir, lambda df, bid: process_batch(
        df, bid, regs_dir, item_col=item_col, key_col=key_col, p=p, salt=salt))
