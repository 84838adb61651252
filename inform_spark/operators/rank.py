"""Distributed exact global row-number / prefix-sum — no global window.

A bare ``row_number().over(Window.orderBy(...))`` funnels the whole input
through ONE task (Spark logs "No Partition Defined for Window"); fine at
1k rows, a wall at a production batch of millions. These operators
compute identical results distributed, with ONE shuffle total:

1. range-repartition on the order key — partition i's keys all precede
   partition i+1's (ordered partitions), then sort WITHIN partitions
   (spillable JVM sort, no exchange),
2. per-partition local positions with zero additional shuffle:
   - row numbers from ``monotonically_increasing_id()`` — after the
     in-partition sort the id is exactly ``(pid << 33) + local_row`` in
     whole-stage codegen (no window, no Python),
   - running sums from a streaming Arrow ``mapInPandas`` cumsum
     (input arrives sorted; O(batch) memory, state carried across
     batches within the partition),
3. fold in each partition's base (count/total of all earlier
   partitions) — ≤ n_partitions scalars collected to the driver,
   applied as a literal map lookup: no extra shuffle.

(The naive two-phase formulation ``Window.partitionBy(spark_partition_id())``
costs a SECOND full exchange — Catalyst cannot know the data is already
partitioned by the id expression — which these formulations avoid.)

Used by the crawl engine's distributed ``seeds_df`` seeding
(plans/crawl.py), curriculum ordering (operators/curriculum.py), the O3
admission-rank oracle query (reference admission rank,
src/WebCrawler.js:553-560), and sequence packing / sharding
(operators/packing.py, operators/shards.py). The crawl's per-batch
``parent_rank`` does NOT use them: a batch is a bounded top-k whose merge
task already holds it sorted, so a plain window there costs nothing.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

_PID_SHIFT = 33  # monotonically_increasing_id: (pid << 33) + local_row


def _fold_offsets(bases: dict[int, int]) -> Column:
    """Literal-map lookup of a per-partition base offset (driver-side
    scalars, no join)."""
    if not bases:
        return F.lit(0)
    return F.coalesce(
        F.element_at(
            F.create_map(
                *[F.lit(x) for pid in bases for x in (pid, bases[pid])]
            ),
            F.col("__pid"),
        ),
        F.lit(0),
    )


def _bases(pairs: list[tuple[int, int]]) -> dict[int, int]:
    out: dict[int, int] = {}
    acc = 0
    for pid, v in sorted(pairs):
        out[pid] = acc
        acc += int(v or 0)
    return out


def _ranked_with_local(
    df: DataFrame, order_cols: list[Column], n: int
) -> tuple[DataFrame, DataFrame]:
    """Core of :func:`distributed_row_number`: persist the input (the
    range partitioner SAMPLES it — without the pin the upstream plan
    would execute twice), range-partition + sort within partitions, and
    decode (__pid, __local) from ``monotonically_increasing_id``.
    Returns (persisted_input, persisted_ranked)."""
    df = df.persist()
    ranked = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn(
            "__pid", F.shiftright("__mid", _PID_SHIFT).cast("int")
        )
        .withColumn(
            "__local",
            (F.col("__mid") % F.lit(1 << _PID_SHIFT) + 1).cast("long"),
        )
        .drop("__mid")
        .persist()
    )
    return df, ranked


def distributed_row_number(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> tuple[DataFrame, list[DataFrame]]:
    """Exact contiguous 1-based global ``row_number`` by ``order_cols``,
    computed distributed (one range shuffle, no window anywhere).

    ``order_cols`` must be a deterministic total order (ties would make
    the rank nondeterministic under ANY formulation, including the
    single-partition window this replaces).

    Returns ``(ranked_df, caches)`` — the caller unpersists ``caches``
    once the ranked output has been materialized. The input is persisted
    internally because the range partitioner SAMPLES its input: without
    the pin, the upstream plan would execute twice (sampling pass +
    shuffle pass)."""
    spark = df.sparkSession
    n = num_partitions or max(
        2, min(spark.sparkContext.defaultParallelism, 64)
    )
    df, ranked = _ranked_with_local(df, order_cols, n)
    counts = [
        (r["__pid"], r["n"])
        for r in ranked.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    base = _bases(counts)
    total = sum(c for _, c in counts)
    if total > (1 << 31) - 1:
        # the rank column's int contract (and the checkpoint schemas
        # built on it) cannot represent this input; fail loudly with the
        # real number instead of an ANSI cast error mid-job
        raise OverflowError(
            f"distributed_row_number over {total} rows exceeds int32; "
            "use a long-typed ranking for corpora past 2^31 rows"
        )
    out = ranked.withColumn(
        out_col, (F.col("__local") + _fold_offsets(base)).cast("int")
    ).drop("__pid", "__local")
    return out, [df, ranked]


def distributed_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    out_col: str = "cum_before",
    num_partitions: int | None = None,
) -> tuple[DataFrame, list[DataFrame]]:
    """Exact global EXCLUSIVE prefix sum of ``value_col`` by ``order_cols``
    (``out_col`` = sum of all strictly-earlier rows' values), computed
    distributed: range partitions → in-partition sort → streaming Arrow
    cumsum per partition (state carried across batches, O(batch) memory)
    → driver-folded partition bases. One shuffle; no window.

    ``order_cols`` must be a total order. Returns ``(df, caches)`` like
    :func:`distributed_row_number`."""
    spark = df.sparkSession
    n = num_partitions or max(
        2, min(spark.sparkContext.defaultParallelism, 64)
    )
    df = df.persist()
    parted = df.repartitionByRange(n, *order_cols).sortWithinPartitions(
        *order_cols
    )
    out_schema = StructType(
        list(parted.schema.fields)
        + [
            StructField("__pid", IntegerType(), False),
            StructField("__run", LongType(), False),
        ]
    )

    def running(pdfs: Iterator) -> Iterator:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        run = 0
        for pdf in pdfs:
            # NULL values arrive as NaN; treat as 0 — the same contract
            # as the base aggregation's F.sum (which skips nulls), so
            # __run and the partition bases stay synchronized
            c = pdf[value_col].fillna(0).astype("int64").cumsum() + run
            if len(c):
                run = int(c.iloc[-1])
            pdf = pdf.assign(__pid=pid, __run=c)
            yield pdf

    summed = parted.mapInPandas(running, out_schema).persist()
    base = _bases(
        [
            (r["__pid"], r["t"])
            for r in summed.groupBy("__pid")
            .agg(F.coalesce(F.sum(value_col), F.lit(0)).alias("t"))
            .collect()
        ]
    )
    out = summed.withColumn(
        out_col,
        (
            F.col("__run")
            - F.coalesce(F.col(value_col).cast("long"), F.lit(0))
            + _fold_offsets(base)
        ).cast("long"),
    ).drop("__pid", "__run")
    return out, [df, summed]
