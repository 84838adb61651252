"""Explicit StructType schemas for every engine table.

The reference fixes its shapes by JSDoc convention only (e.g.
reference src/sources/types.js:10-22); here every table has an explicit
schema so Arrow round-trips through pandas UDFs are stable and parquet
snapshots never drift.

The ``documents`` table follows the authoritative input_hint shape
(BASELINE.json): interleaved text + media spans
``array<struct<kind, text, media_ref, offset>>`` whose text-span
concatenation in offset order byte-equals the rendered markdown.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Span model (input_hint): kind in {'text','media'}; offset is the ordinal
# position in the document; concatenating text-kind spans in offset order
# must byte-equal the engine's rendered markdown for that document.
# ---------------------------------------------------------------------------
SPAN = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), False),
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", StringType(), False),  # url-derived path, X5 rules
        StructField("url", StringType(), False),
        StructField("spans", ArrayType(SPAN), False),
        StructField("batch_id", LongType(), False),
    ]
)

# Frontier: the distributed analog of the reference's insertion-ordered
# `toVisit` Set (src/WebCrawler.js:55), generalized to the north_rule's
# priority queue keyed by (host, depth, priority). `frontier_offset` is a
# globally monotonic BIGINT encoding (batch, parent-rank, link-index);
# batch selection pops `ORDER BY (priority, frontier_offset)`, so with the
# default priority 0 everywhere this reproduces the sequential FIFO pop
# order (src/WebCrawler.js:248-249) exactly, and a custom priority rule
# (CrawlConfig.priority_col) front-runs the FIFO without losing the
# in-class insertion-order tie-break.
FRONTIER = StructType(
    [
        StructField("url", StringType(), False),
        StructField("host", StringType(), False),
        StructField("path", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("priority", IntegerType(), False),
        StructField("frontier_offset", LongType(), False),
        StructField("discovered_in_batch", LongType(), False),
    ]
)

# URL-seen set: exact backing table for the bloom filter; the reference's
# `visited` Set (src/WebCrawler.js:54). Failures are seen too
# (src/WebCrawler.js:256-258).
SEEN = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("status", StringType(), False),  # ok | failed | skipped
        StructField("error", StringType(), True),
        StructField("attempted_in_batch", LongType(), False),
        StructField("crawl_rank", LongType(), False),  # global attempt order
    ]
)

# Per-host robots dimension table (broadcast side of J2).
# Mirrors the reference's per-origin cache (src/RobotsParser.js:12,39-43).
ROBOTS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("exists", BooleanType(), False),
        StructField("disallow_prefixes", ArrayType(StringType()), False),
        StructField("crawl_delay_ms", LongType(), True),
    ]
)

# Synthetic web fixture (replaces live HTTP in tests/bench — the sandbox has
# no crawl targets; mirrors tests/integration/test-server.js:15-69).
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("host", StringType(), False),
        StructField("status_code", IntegerType(), False),
        StructField("content_type", StringType(), False),
        StructField("html", StringType(), True),
        StructField("out_links", ArrayType(StringType()), True),
    ]
)

# Fetch-stage output (D5): one row per attempted URL per batch.
FETCHED = StructType(
    [
        StructField("url", StringType(), False),
        StructField("status_code", IntegerType(), True),
        StructField("content_type", StringType(), True),
        StructField("html", StringType(), True),
        StructField("attempts", IntegerType(), False),
        StructField("fetch_ms", FloatType(), True),
    ]
)

# The per-batch materialization: ONE row per attempted URL carrying the
# full fetch+render output. Each batch appends exactly one parquet delta of
# this shape and every downstream consumer is a COLUMN-PRUNED view of it —
# documents() reads (doc_id, url, spans), seen() reads (url, status, ...),
# discover reads (depth, parent_rank, links) — so the fat span/link payload
# is written once and never re-serialized into a row cache.
ATTEMPTS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("depth", IntegerType(), True),
        StructField("parent_rank", IntegerType(), True),
        StructField("frontier_offset", LongType(), True),
        StructField("status", StringType(), False),
        StructField("error", StringType(), True),
        StructField("is_doc", BooleanType(), False),
        StructField("doc_id", StringType(), True),
        StructField("spans", ArrayType(SPAN), True),
        StructField("links", ArrayType(StringType()), True),
        StructField("attempted_in_batch", LongType(), False),
        StructField("crawl_rank", LongType(), False),
    ]
)

# Invalidation tombstones (the reason the cuckoo fallback exists: a bloom
# cannot unlearn a URL). kind='seen' nets attempts rows with
# attempted_in_batch < as_of_batch out of the seen set (the URL becomes
# live again and is re-fetched: recrawl-after-change / takedown); kind=
# 'frontier' additionally nets frontier rows with discovered_in_batch <
# as_of_batch (the URL is revoked — a later re-discovery is treated as
# brand new). Append-only, so the netting predicate is time-scoped: rows
# written AFTER the tombstone (>= as_of_batch) are untouched.
TOMBSTONES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("as_of_batch", LongType(), False),
    ]
)

# Per-PARTITION lineage (north_rule: "per-partition lineage — frontier
# offset, bloom shard version, fetch metrics"): one row per data file of
# each batch's attempts delta. Derived driver-side from the parquet
# footers (row counts + frontier_offset column min/max statistics) — zero
# extra Spark jobs; the files ARE the batch's partitions.
PARTITION_LINEAGE = StructType(
    [
        StructField("batch_id", LongType(), False),
        StructField("file", StringType(), False),
        StructField("rows", LongType(), False),
        StructField("offset_lo", LongType(), True),
        StructField("offset_hi", LongType(), True),
        StructField("bloom_shard_version", LongType(), False),
    ]
)

# Per-batch / per-partition lineage + metrics (north_rule: resumable from
# checkpoint with per-partition lineage + metrics). wall_ms runs from the
# run's previous commit (for its first batch: the end of set-up) to the
# moment this batch's lineage row is built. A batch launched early starts
# its fetch+render before that commit, inside the previous batch's wall,
# so the walls of one run never overlap and sum to at most its wall.
LINEAGE = StructType(
    [
        StructField("batch_id", LongType(), False),
        StructField("offset_lo", LongType(), False),
        StructField("offset_hi", LongType(), False),
        StructField("bloom_shard_version", LongType(), False),
        StructField("pages_attempted", LongType(), False),
        StructField("pages_ok", LongType(), False),
        StructField("pages_failed", LongType(), False),
        StructField("pages_skipped", LongType(), False),
        StructField("links_discovered", LongType(), False),
        StructField("links_admitted", LongType(), False),
        StructField("links_dropped_cap", LongType(), False),
        StructField("wall_ms", LongType(), False),
    ]
)

# Feed-ingest item (D7, reference src/sources/types.js:10-22).
INGEST_ITEM = StructType(
    [
        StructField("kind", StringType(), False),  # rss|youtube|x|bluesky
        StructField("id", StringType(), False),
        StructField("url", StringType(), True),
        StructField("title", StringType(), True),
        StructField("published_at", TimestampType(), True),
        StructField("author", StringType(), True),
        StructField("content_text", StringType(), True),
        StructField("content_html", StringType(), True),
        StructField("tags", ArrayType(StringType()), True),
    ]
)

SEED_URLS = StructType(
    [
        StructField("seed_id", LongType(), False),
        StructField("url", StringType(), False),
        StructField("limit", IntegerType(), False),
        StructField("delay_ms", IntegerType(), False),
        StructField("max_depth", IntegerType(), False),
    ]
)

# Multimodal asset table: media payloads are opaque binary with typed
# metadata; decode runs as mapInPandas (stubbed in-sandbox).
from pyspark.sql.types import BinaryType, MapType  # noqa: E402

MEDIA_ASSETS = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), True),
        StructField("meta", MapType(StringType(), StringType()), True),
    ]
)
