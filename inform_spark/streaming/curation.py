"""Continuous-ingest curation — the streaming form of the
``curation_verdicts`` composition (``__spark_entry__.q_curation_verdicts``).

A production pipeline curates as data ARRIVES: each micro-batch of crawl
output is gated against FROZEN reference statistics and deduplicated
against the accreting exact-hash index. Two deliberate semantic choices:

- **Frozen stats.** A stream cannot derive the LM band from its own
  unigram statistics (verdicts would depend on how the stream was
  chopped). :func:`build_reference_stats` trains the unigram table ONCE
  on a reference corpus and every batch scores against it — the CCNet
  production shape (Wenzek et al. 2020 train the LM on Wikipedia, not on
  the batch). OOV tokens cost the bits of a count-1 token. Model weights
  and the blocklist are frozen by construction.
- **First arrival wins.** The canonical pick probes the persisted
  (text_hash, doc_id) index of everything already accepted, like the
  crawl engine's seen-set; a single batch matches the batch
  composition's canonical column exactly.

Replay safety is the shared kernel's (``streaming.microbatch``): a
replay reproduces identical verdicts and appends nothing twice.

Scale: per batch, the batch's own gates (narrow / broadcast vocab) plus
ONE probe join against the index on text_hash (bucketed at scale). No
state store, no watermark, no unbounded driver memory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inform_spark.operators.textops import _h60, floor_log2, words_col
from inform_spark.streaming import microbatch as mb

VOCAB_SCHEMA = "token string, bits long"
META_SCHEMA = "oov_bits long, n_tokens long"
INDEX_SCHEMA = "text_hash long, doc_id long, batch_id long"
VERDICTS_SCHEMA = (
    "doc_id long, pass_model int, pass_badword int, pass_lm int, "
    "dup_verdict string, match_id long, keep_final int, batch_id long"
)


def build_reference_stats(
    spark: SparkSession, ref_docs: DataFrame, stats_dir: str
) -> None:
    """Train the frozen unigram surprisal table on a reference corpus:
    (token, bits) with bits = floor(log2(N div c)) — the same exact
    integer floor-log2 as ``importance.unigram_surprisal`` — plus a
    1-row meta table carrying the OOV cost (bits of a count-1 token,
    floor(log2(N)))."""
    toks = ref_docs.select(F.explode(words_col()).alias("token")).filter(
        F.length("token") > 0
    )
    vocab_counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = vocab_counts.agg(F.sum("c").alias("N"))
    n_total = total.collect()[0]["N"]
    if not n_total:
        # fail fast at build time — a null meta row would surface as a
        # TypeError deep inside the first micro-batch instead
        raise ValueError("reference corpus has no non-empty tokens")
    vocab = (
        vocab_counts.join(F.broadcast(total))
        .select("token", floor_log2(F.expr("N div c")).alias("bits"))
    )
    vocab.write.mode("overwrite").parquet(os.path.join(stats_dir, "vocab"))
    meta = total.select(
        floor_log2(F.col("N")).alias("oov_bits"),
        F.col("N").cast("long").alias("n_tokens"),
    )
    meta.write.mode("overwrite").parquet(os.path.join(stats_dir, "meta"))


def init_index(spark: SparkSession, index_dir: str) -> None:
    mb.seed(spark.createDataFrame([], INDEX_SCHEMA), index_dir)


@mb.micro_batch
def process_batch(
    batch_df: DataFrame,
    batch_id: int,
    stats_dir: str,
    index_dir: str,
    verdicts_dir: str,
    blocked_sources: DataFrame | None = None,
    min_bits_milli: int = 1_000,
    max_bits_milli: int = 14_000,
) -> None:
    """One curation micro-batch: frozen-stats gates + first-arrival
    canonical pick. Module-level so replay idempotence is directly
    testable."""
    from inform_spark.operators.quality import badword_filter, model_quality_score

    spark = batch_df.sparkSession
    vocab = spark.read.schema(VOCAB_SCHEMA).parquet(os.path.join(stats_dir, "vocab"))
    meta = spark.read.schema(META_SCHEMA).parquet(os.path.join(stats_dir, "meta"))
    oov_bits = int(meta.collect()[0]["oov_bits"])

    # at-least-once sources can repeat a doc inside one micro-batch —
    # possibly with DIFFERENT payloads; without collapsing, the four
    # gate frames inner-join into a row cross product per duplicated
    # id. The survivor must be DETERMINISTIC (min by (text[, source])):
    # dropDuplicates picks by partition order, so a replayed batch
    # could gate/hash a different payload than the original attempt
    payload = ["text"] + (["source"] if "source" in batch_df.columns else [])
    d = (
        batch_df.select(F.col("doc_id").cast("long").alias("doc_id"), *payload)
        .groupBy("doc_id")
        .agg(F.min(F.struct(*payload)).alias("__s"))
        .select("doc_id", *[F.col(f"__s.{c}").alias(c) for c in payload])
        .persist()
    )

    mq = model_quality_score(d).select(
        "doc_id", F.col("keep").cast("int").alias("pass_model")
    )
    bw_in = d
    if blocked_sources is not None and "source" not in d.columns:
        bw_in = d.withColumn("source", F.lit(""))
    bw = badword_filter(bw_in, blocked_sources=blocked_sources).select(
        "doc_id", F.col("keep").cast("int").alias("pass_badword")
    )
    # frozen-LM surprisal band: join token -> bits (broadcast vocab),
    # OOV = count-1 cost
    toks = d.select("doc_id", F.explode(words_col()).alias("token")).filter(
        F.length("token") > 0
    )
    sc = (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.coalesce("bits", F.lit(oov_bits)))
            .cast("long").alias("surprisal_bits"),
        )
    )
    mean_milli = F.expr("1000 * surprisal_bits div n_tokens")
    in_band = (mean_milli >= min_bits_milli) & (mean_milli <= max_bits_milli)
    lm = d.select("doc_id").join(sc, "doc_id", "left").select(
        "doc_id", F.coalesce(in_band, F.lit(False)).cast("int").alias("pass_lm")
    )

    # first-arrival canonical: probe the prior index, then in-batch min
    # per hash
    hashed = d.select("doc_id", _h60(F.col("text")).alias("text_hash"))
    index = mb.prior(spark, index_dir, INDEX_SCHEMA, batch_id).select(
        "text_hash", F.col("doc_id").alias("__idx")
    )
    hits = (
        hashed.join(index, "text_hash")
        .groupBy("doc_id")
        .agg(F.min("__idx").alias("__hit"))
    )
    in_batch_min = hashed.groupBy("text_hash").agg(F.min("doc_id").alias("__bmin"))
    lost = F.col("doc_id") != F.col("__bmin")
    canon = (
        hashed.join(hits, "doc_id", "left")
        .join(in_batch_min, "text_hash")
        .select(
            "doc_id",
            F.when(F.col("__hit").isNotNull(), F.lit("dup_of_index"))
            .when(lost, F.lit("dup_of_new"))
            .otherwise(F.lit("kept"))
            .alias("dup_verdict"),
            F.coalesce("__hit", F.when(lost, F.col("__bmin"))).alias("match_id"),
        )
    )
    keep_final = (
        F.col("pass_model").cast("boolean")
        & F.col("pass_badword").cast("boolean")
        & F.col("pass_lm").cast("boolean")
        & (F.col("dup_verdict") == "kept")
    )
    verdicts = (
        mq.join(bw, "doc_id").join(lm, "doc_id").join(canon, "doc_id")
        .select("doc_id", "pass_model", "pass_badword", "pass_lm", "dup_verdict",
                "match_id", keep_final.cast("int").alias("keep_final"))
    )
    mb.write(verdicts, verdicts_dir, batch_id)

    # the newly-canonical hashes (kept rows only — duplicates must not
    # become canonical). Kept ids join `hashed` (derived from the
    # persisted batch), NOT `canon`, whose lineage would re-probe the
    # accreting index — the dominant per-batch cost on a large corpus
    kept = (
        mb.own(spark, verdicts_dir, VERDICTS_SCHEMA, batch_id)
        .filter(F.col("dup_verdict") == "kept")
        .select("doc_id")
    )
    mb.write(hashed.join(kept, "doc_id", "left_semi"), index_dir, batch_id)
    d.unpersist()


def curation_stream(stream: DataFrame, stats_dir: str, index_dir: str,
                    verdicts_dir: str, checkpoint_dir: str,
                    blocked_sources: DataFrame | None = None):
    """Run the continuous curation loop on a streaming (doc_id, text[,
    source]) DataFrame. Returns the StreamingQuery."""
    return mb.start(stream, checkpoint_dir, lambda df, bid: process_batch(
        df, bid, stats_dir, index_dir, verdicts_dir,
        blocked_sources=blocked_sources))


def read_verdicts(spark: SparkSession, verdicts_dir: str) -> DataFrame:
    return mb.read(spark, verdicts_dir, VERDICTS_SCHEMA)
