"""The URL-frontier + fetch-scheduler engine: iterative DataFrame micro-batches.

Design (SURVEY §2.7 T1): the reference's crawl loop
(src/WebCrawler.js:244-273) is a self-referential dataflow — batch k's
output links are batch k+1's input — which Structured Streaming sources
cannot express, so the engine is a driver loop of declarative DataFrame
micro-batches, each committed as one atomic multi-table snapshot
(:mod:`inform_spark.plans.checkpoint`).

Per batch:

1. live frontier  = frontier ∖ seen           (left anti join, J1 flavor)
2. politeness     = per-host token budget      (ranking window, T2-T4)
3. batch          = first B by (priority, frontier_offset): ONE
                    TakeOrderedAndProject (no global sort, O2 limit
                    pushdown); parent_rank is a row_number over its single
                    sorted merge partition (no Exchange, no Sort), a task
                    that B <= MAX_BATCH_ROWS bounds
4. fetch          = broadcast(batch) ⨝ pages   (J3; host-pruned scan; live
                                                HTTP fetch is the same stage
                                                as a mapInPandas UDF)
5. render         = ONE pandas UDF: extract links + main content + markdown
                    + spans (X1-X5), written STRAIGHT to the batch's
                    `attempts` parquet delta — the single materialization
                    of the fat payload; documents()/seen() are
                    column-pruned views of it
6. discover       = posexplode(links) → native filters (host F2, base-path
                    F3, extension F4 via rlike, globs F5, robots F6 via
                    closure UDF or broadcast join) → keep-first dedup (T7)
                    → anti-join frontier (J1, bloom pre-probe optional)
7. admit          = the candidates are written ONCE as the batch's
                    frontier delta and counted from its parquet footers;
                    only a cap that applies (template cap, O3 drop-new
                    queue cap) un-stages it, rewrites the capped rows
                    from that directory, then deletes it
8. append lineage, atomic catalog commit (T6)

Ordering guarantee: `frontier_offset` is a monotonic BIGINT encoding
(batch+1, parent-rank-in-batch, link-index), so `ORDER BY frontier_offset`
is exactly the reference's insertion-ordered FIFO (src/WebCrawler.js:55,
248-249) and the whole crawl — batched or not — is order-equal to the
sequential (concurrency=1) reference semantics whenever the politeness
budget and queue cap don't bind, and a linear extension of it otherwise.
Verified against :mod:`inform_spark.reference_impl` in tests.

Scale notes (100 TB / 10^10 URLs):
- frontier and seen are APPEND-ONLY; the live frontier is an anti-join, so
  no snapshot rewrite is ever O(frontier).
- the seen anti-join is the one big shuffle; with `use_bloom=True` a
  broadcast sharded bloom filter (:mod:`inform_spark.operators.bloom`)
  pre-drops the vast majority of candidates and only bloom-POSITIVES reach
  the exact anti-join (false positives are re-checked exactly, so the seen
  set is byte-identical either way).
- hot-host skew: the politeness window bounds per-host batch contribution;
  the render stage is repartitioned by url hash (perfectly balanced);
  AQE skew-join handling is on for the anti-joins.
"""

from __future__ import annotations

import logging
import os
import shutil
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from inform_spark import schemas
from inform_spark.functions.globs import FileFilter
from inform_spark.functions.robots import RobotsMatcher
from inform_spark.functions.urls import (
    SKIP_EXTENSIONS_RLIKE,
    derive_base_path,
    normalize_url,
    url_host,
)
from inform_spark.operators.render import make_extract_render_udf
from inform_spark.plans.checkpoint import CrawlCheckpoint
from inform_spark.sources.httpfetch import (
    DEFAULT_MAX_BYTES,
    DEFAULT_UA,
    RETRYABLE,
)

logger = logging.getLogger(__name__)

# frontier_offset bit layout: (batch+1) << 42 | parent_rank << 21 | link_idx
BATCH_SHIFT = 42
PARENT_SHIFT = 21
MAX_LINKS_PER_PAGE = (1 << PARENT_SHIFT) - 1
# parent_rank occupies 21 bits: a batch larger than 2^21 parents would
# carry into the batch field (offset collisions + broken FIFO order), so
# run() clamps the per-batch selection to this many rows — more batches,
# identical crawl order, no overflow
MAX_BATCH_ROWS = 1 << PARENT_SHIFT


@dataclass
class CrawlConfig:
    seeds: list[str]
    limit: int = 100
    max_retries: int = 3
    max_queue_size: int | None = 10_000  # None = unbounded (no admission rank)
    include: list[str] | None = None
    exclude: list[str] | None = None
    ignore_robots: bool = False
    default_delay_ms: int = 1000
    batch_wall_budget_ms: int | None = None  # None => politeness budget off
    batch_size: int | None = None  # None => remaining limit
    max_depth: int | None = None
    use_bloom: bool = False
    bloom_shards: int = 16
    bloom_bits_per_shard: int = 1 << 20
    # "bloom" (default) or "cuckoo" — same pre-probe dataflow; cuckoo
    # supports DELETE (url invalidation / recrawl) at ~2 bytes/key
    seen_filter: str = "bloom"
    render_partitions: int | None = None
    politeness_salts: int = 8  # two-phase per-host rank fan-out (skew)
    # periodic snapshot compaction: every K batches, rewrite the
    # frontier/attempts per-batch micro-deltas into right-sized files (a
    # 10^5-batch crawl would otherwise accumulate 10^5 tiny files and the
    # listing would dominate every scan). None = never.
    compact_every_batches: int | None = None
    # fetch stage: "fixture" joins the synthetic pages table (tests/bench);
    # "http" GETs live via the mapInPandas batch fetcher (sources/httpfetch)
    fetch_mode: str = "fixture"
    # optional priority rule (north_rule priority queue): a zero-arg
    # callable returning a Column over the candidate-link columns
    # (url/host/path/depth); LOWER pops first; ties broken by insertion
    # order (frontier_offset). None = FIFO (priority 0 everywhere), which
    # is the reference-equivalent ordering.
    priority_col: object = None
    http_timeout_s: float = 10.0
    http_base_backoff_s: float = 1.0
    http_min_interval_ms: int = 0
    http_max_bytes: int = DEFAULT_MAX_BYTES  # hard body cap; over -> 'truncated'
    http_user_agent: str = DEFAULT_UA
    # distributed seeding (recrawl / bulk re-queue): a DataFrame with a
    # `url` column (optional int `priority`), e.g. recrawl.due_now()
    # output. Normalized + deduped DISTRIBUTED, FIFO order = sorted url
    # (a DataFrame has no row order; the sort makes seeding
    # deterministic). A driver-side `seeds` list of 10^6+ due URLs would
    # serialize through append_rows — this path never collects. When
    # only seeds_df is given, host/base-path scoping (F2/F3) is OPEN:
    # bulk seeds are already-admitted URLs, not a site boundary.
    seeds_df: object = None
    # raw mode (reference --raw, src/WebCrawler.js:336-341): documents carry
    # the extracted content HTML as one text span, doc_id gets .html
    raw: bool = False
    # robots rules travel in the filter-UDF closure only while the dim is
    # small (one pickle, no per-batch join); above this host count the
    # closure becomes a driver bottleneck (10^6-10^8 hosts at web scale)
    # and the engine switches to a broadcast join per batch instead
    robots_closure_max_hosts: int = 4096
    # structural crawler-trap defense (operators/traps.py): admit at most
    # this many NEW urls per (host, url-path template) per batch — digit
    # runs -> {N}, >=8-char hex runs -> {H}. A calendar/session-id/facet
    # trap then drips template_cap urls per batch instead of flooding the
    # frontier (the reference has only the global queue cap,
    # src/WebCrawler.js:553-560). Order-stable: the kept prefix is the
    # lowest frontier_offsets, so non-trap crawl order is unchanged.
    # None = off (zero plan change).
    template_cap: int | None = None
    # politeness granularity: "host" (reference-equal default — the
    # budget keys on the hostname, src/WebCrawler.js:265-267) or "ip"
    # (Mercator/IRLbot server-keyed politeness: every hostname behind
    # one address shares ONE budget — the host-farm defense the
    # per-host form cannot express). "ip" requires dns_df and only
    # changes behavior when batch_wall_budget_ms is set.
    politeness_key: str = "host"
    # resolver dimension (host, ip[, resolved_at_ms]) for
    # politeness_key="ip" — e.g. operators/dns.resolve_hosts output.
    # Merged-on-read per host (newest resolved_at_ms wins, the shared
    # dedup_dns_dim kernel); hosts absent from the dim budget under
    # their own name — never admitted into a shared bucket by accident.
    dns_df: object = None


@dataclass
class CrawlSummary:
    batches: int = 0
    attempted: int = 0
    ok: int = 0
    failed: int = 0
    skipped_non_html: int = 0
    links_discovered: int = 0
    links_admitted: int = 0
    links_dropped_cap: int = 0
    links_dropped_template: int = 0
    wall_ms: float = 0.0
    extra: dict = field(default_factory=dict)


def _glob_filter_udf(include, exclude):
    ff = FileFilter(include, exclude)

    @pandas_udf(BooleanType())
    def glob_ok(url: pd.Series) -> pd.Series:
        return url.map(ff.should_crawl_url)

    return glob_ok


def make_robots_filter_udf(rules: dict[str, list[str]]):
    """Vectorized robots check with the per-host disallow lists captured in
    the UDF closure (the robots dim table is static for a crawl and tiny —
    one row per host — so shipping it in the closure replaces a broadcast
    join + exchange PER BATCH with nothing). Matchers compile lazily per
    worker; a host absent from ``rules`` is allow-all (missing robots.txt,
    reference src/RobotsParser.js:55-63)."""
    compiled: dict[str, RobotsMatcher] = {}

    @pandas_udf(BooleanType())
    def robots_ok(host: pd.Series, path_query: pd.Series) -> pd.Series:
        out = []
        for h, pq in zip(host, path_query):
            pref = rules.get(h)
            if not pref:
                out.append(True)
                continue
            m = compiled.get(h)
            if m is None:
                m = compiled[h] = RobotsMatcher(pref)
            out.append(m.is_allowed(pq or "/"))
        return pd.Series(out, dtype=bool)

    return robots_ok


def make_robots_join_filter_udf():
    """Web-scale robots check: the disallow lists arrive as a COLUMN from a
    broadcast join (host -> disallow_prefixes), so nothing host-shaped ever
    sits on the driver. Matchers are compiled once per host per worker
    (process-lifetime cache); a null/empty prefix list is allow-all."""
    compiled: dict[str, RobotsMatcher] = {}

    @pandas_udf(BooleanType())
    def robots_ok(
        host: pd.Series, prefixes: pd.Series, path_query: pd.Series
    ) -> pd.Series:
        out = []
        for h, pref, pq in zip(host, prefixes, path_query):
            if pref is None or len(pref) == 0:
                out.append(True)
                continue
            m = compiled.get(h)
            if m is None:
                m = compiled[h] = RobotsMatcher(list(pref))
            out.append(m.is_allowed(pq or "/"))
        return pd.Series(out, dtype=bool)

    return robots_ok


class CrawlEngine:
    """Iterative micro-batch crawl over a pages fixture table (or live
    fetcher). One instance per crawl; resumable via ``resume=True``."""

    def __init__(
        self,
        spark: SparkSession,
        pages_df: DataFrame,
        robots_df: DataFrame | None,
        config: CrawlConfig,
        checkpoint_dir: str | None = None,
    ):
        self.spark = spark
        self.pages = pages_df
        self.robots = robots_df
        self.cfg = config
        if config.politeness_key not in ("host", "ip"):
            raise ValueError(
                f"politeness_key must be 'host' or 'ip', got "
                f"{config.politeness_key!r}"
            )
        if config.politeness_key == "ip" and config.dns_df is None:
            raise ValueError(
                "politeness_key='ip' requires dns_df (the (host, ip) "
                "resolver dimension, e.g. operators/dns.resolve_hosts "
                "output)"
            )
        self.checkpoint_dir = checkpoint_dir or tempfile.mkdtemp(prefix="inform-crawl-")
        self.catalog = CrawlCheckpoint(
            spark,
            self.checkpoint_dir,
            {
                "frontier": schemas.FRONTIER,
                "attempts": schemas.ATTEMPTS,
                "lineage": schemas.LINEAGE,
                "partition_lineage": schemas.PARTITION_LINEAGE,
                "tombstones": schemas.TOMBSTONES,
            },
        )
        # driver-side scalar state
        self.batch_id = 0
        self.attempted = 0
        self.enqueued_total = 0  # unique URLs ever admitted to the frontier
        self.queue_warned = False
        # max frontier_offset ever attempted. Without a politeness budget the
        # batch is always the FIFO prefix of the live frontier, so seen ==
        # {offset <= watermark} and live == frontier.filter(offset > W) — a
        # pure predicate (parquet row-group pruning at 10^10 scale) instead
        # of a seen-table read + anti-join per batch. None => the prefix
        # property was lost (a politeness/priority batch skipped ahead of
        # unfetched offsets): the anti-join fallback is then PERMANENT for
        # this crawl — seen may contain offsets above any later batch's hi,
        # so a watermark can never be soundly re-established.
        self.offset_watermark: int | None = -1
        self._scopes = [
            (url_host(normalize_url(s)), derive_base_path(normalize_url(s)))
            for s in config.seeds
        ]
        self._scope_hosts = sorted({h for h, _ in self._scopes})
        self._glob_udf = (
            _glob_filter_udf(config.include, config.exclude)
            if (config.include or config.exclude)
            else None
        )
        self._bloom = None
        self._bloom_future = None
        self._seed_priorities = (
            config.seeds_df is not None
            and "priority" in config.seeds_df.columns
        )
        self._render_udf = make_extract_render_udf(raw=config.raw)

    def _resolve_bloom(self) -> None:
        """Await the pipelined bloom fold-in from the previous batch."""
        if self._bloom_future is not None:
            self._bloom = self._bloom_future.result()
            self._bloom_future = None

    # ------------------------------------------------------------------
    def _init_state(self) -> None:
        if self.cfg.seeds_df is not None:
            self._init_state_df()
            return
        seeds = []
        seen_urls = set()
        for s in self.cfg.seeds:
            u = normalize_url(s)
            if u in seen_urls:
                continue
            seen_urls.add(u)
            seeds.append(u)
        from inform_spark.functions.urls import url_path

        rows = [
            (u, url_host(u), url_path(u), 0, 0, i, 0)
            for i, u in enumerate(seeds)
        ]
        self.catalog.tables["frontier"].append_rows(rows, "seed")
        self.enqueued_total = len(rows)
        self.catalog.commit(self._state())

    def _init_state_df(self) -> None:
        """Distributed bulk seeding from cfg.seeds_df (never collects):
        normalize + dedup + rank, all as DataFrame ops; frontier offsets
        are the sorted-url rank so seeding is deterministic."""
        from inform_spark.functions.urls import (
            normalize_urls_udf,
            url_host_udf,
            url_path_udf,
        )
        from inform_spark.operators.rank import distributed_row_number

        sdf = self.cfg.seeds_df
        prio = (
            F.col("priority").cast("int")
            if "priority" in sdf.columns
            else F.lit(0)
        )
        # duplicate urls (post-normalization) keep their MOST URGENT
        # priority — min, since lower sorts first in _select_batch. A
        # dropDuplicates here would keep an arbitrary partition's row and
        # make the seeded crawl order run-dependent.
        s = (
            sdf.select(
                normalize_urls_udf(F.col("url")).alias("url"),
                prio.alias("priority"),
            )
            .groupBy("url")
            .agg(F.min("priority").cast("int").alias("priority"))
        )
        ranked, caches = distributed_row_number(
            s, [F.col("url").asc()], out_col="__rk"
        )
        rows = ranked.withColumn("__p", url_path_udf("url")).select(
            "url",
            url_host_udf("url").alias("host"),
            F.when(F.col("__p") == "", "/")
            .otherwise(F.col("__p"))
            .alias("path"),
            F.lit(0).cast("int").alias("depth"),
            F.col("priority").cast("int"),
            (F.col("__rk") - 1).cast("long").alias("frontier_offset"),
            F.lit(0).cast("long").alias("discovered_in_batch"),
        )
        self.catalog.tables["frontier"].append(rows, "seed", n_files=None)
        self.enqueued_total = self.catalog.tables[
            "frontier"
        ].last_dir_row_count()
        for df in caches:
            df.unpersist()
        self.catalog.commit(self._state())

    def _state(self) -> dict:
        return {
            "batch_id": self.batch_id,
            "attempted": self.attempted,
            "enqueued_total": self.enqueued_total,
            "queue_warned": self.queue_warned,
            "offset_watermark": self.offset_watermark,
        }

    def _restore(self) -> None:
        st = self.catalog.restore()
        self.batch_id = st["batch_id"]
        self.attempted = st["attempted"]
        self.queue_warned = st["queue_warned"]
        self.offset_watermark = st.get("offset_watermark")
        self.enqueued_total = st.get("enqueued_total")
        if self.enqueued_total is None:  # older checkpoints: one-time count
            self.enqueued_total = self.catalog.tables["frontier"].read().count()

    # ------------------------------------------------------------------
    @property
    def _has_tombstones(self) -> bool:
        return self.catalog.tables["tombstones"].version > 0

    def _net_seen_urls(self) -> DataFrame:
        """URLs currently counted as attempted: the attempts table minus
        'seen' tombstones (Catalyst prunes the unread columns through the
        anti-join, so this stays a 2-column scan). The tombstone is
        time-scoped (kills only rows attempted BEFORE it), so a re-fetch
        after invalidation makes the URL seen again. Equality on url +
        the batch inequality as a join residual keeps this a hash join,
        never a nested loop."""
        return self._net_attempts().select("url")

    def _net_frontier(self, frontier: DataFrame) -> DataFrame:
        """Frontier minus 'frontier' (revocation) tombstones: a revoked URL
        is neither fetchable nor does it block re-admission — a later
        re-discovery enqueues it fresh with a new offset."""
        if not self._has_tombstones:
            return frontier
        t = (
            self.catalog.tables["tombstones"].read()
            .filter(F.col("kind") == "frontier")
            .select(F.col("url").alias("t_url"), "as_of_batch")
        )
        return frontier.join(
            t,
            (frontier["url"] == t["t_url"])
            & (frontier["discovered_in_batch"] < t["as_of_batch"]),
            "left_anti",
        )

    def invalidate(self, urls: list[str], revoke: bool = False) -> int:
        """Invalidate previously-crawled URLs (recrawl-after-change,
        robots tightening, takedown) — the workflow the north_star's
        deletable cuckoo fallback exists for; the reference has no
        counterpart (its seen set is an in-memory Set that dies with the
        process).

        ``revoke=False``: the URLs stay enqueued but their attempts are
        tombstoned, so the next ``run(resume=True)`` fetches them again
        (FIFO position = their original frontier offsets).

        ``revoke=True``: additionally tombstones their frontier rows and
        — when the live filter is a cuckoo — ``delete``s them from it, so
        a future re-discovery treats them as brand new. With a bloom
        filter the probe stays (safely) stale: it answers "maybe seen"
        and the exact anti-join against the netted frontier re-admits the
        URL anyway; the cuckoo keeps the pre-probe *tight* at O(changes)
        instead of an O(frontier) rebuild.

        Tombstones are append-only Iceberg-style equality deletes scoped
        by batch id: rows written after the invalidation are untouched.
        Returns the number of tombstone rows written."""
        if self.batch_id == 0 and self.attempted == 0 and self.catalog.exists():
            self._restore()  # fresh engine pointed at an existing checkpoint
        normed = []
        dedup = set()
        for u in urls:
            n = normalize_url(u)
            if n not in dedup:
                dedup.add(n)
                normed.append(n)
        rows = [(u, "seen", self.batch_id) for u in normed]
        if revoke:
            rows += [(u, "frontier", self.batch_id) for u in normed]
        self.catalog.tables["tombstones"].append_rows(
            rows, f"inv{self.batch_id}"
        )
        # seen now contains offsets below any FIFO watermark: the prefix
        # property is gone for good, fall back to the exact anti-join
        self.offset_watermark = None
        if revoke and self._bloom is not None and hasattr(self._bloom, "delete"):
            self._resolve_bloom()
            self._bloom = self._bloom.delete(
                self.spark,
                self.spark.createDataFrame([(u,) for u in normed], "url string"),
                approx_count=len(normed),
            )
        self.catalog.commit(self._state())
        return len(rows)

    # ------------------------------------------------------------------
    def _partition_lineage_rows(self, delta_dir: str) -> list[tuple]:
        """Per-partition lineage (north_rule) read straight off the
        attempts delta's parquet footers: each data file is one partition
        of the batch; row count and frontier_offset min/max come from the
        file/column statistics — driver-side metadata, no Spark job."""
        import pyarrow.parquet as pq

        bloom_v = self._bloom.version if self._bloom is not None else 0
        out = []
        for fname in sorted(os.listdir(delta_dir)):
            if not fname.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(delta_dir, fname)).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            i_off = names.index("frontier_offset")
            lo = hi = None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(i_off).statistics
                if st is not None and st.has_min_max:
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            out.append(
                (self.batch_id, fname, md.num_rows, lo, hi, bloom_v)
            )
        return out

    # ------------------------------------------------------------------
    def _scopes_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            self._scopes, schema="host string, base_path string"
        )

    def _robots_dim(self) -> DataFrame | None:
        if self.robots is None or self.cfg.ignore_robots:
            return None
        dim = self.robots
        # reference S3: a missing/failed robots.txt is allow-all
        # (src/RobotsParser.js:20-64) — an exists=False row must not
        # contribute disallow rules OR a crawl-delay, whatever it carries
        if "exists" in dim.columns:
            dim = dim.filter(F.col("exists"))
        # exactly one row per host: two origins that collapse to the same
        # netloc (http:// + https:// of one host) would otherwise
        # DUPLICATE every frontier row of that host through the broadcast
        # joins below (double fetches, corrupted rank totals). Merge as
        # rule union + max crawl-delay (conservative politeness); sort for
        # a deterministic array.
        return (
            dim.groupBy("host")
            .agg(
                F.array_sort(
                    F.array_distinct(
                        F.flatten(F.collect_list("disallow_prefixes"))
                    )
                ).alias("disallow_prefixes"),
                F.max("crawl_delay_ms").alias("crawl_delay_ms"),
            )
        )

    # ------------------------------------------------------------------
    def _select_batch(self, live: DataFrame, b: int) -> DataFrame:
        sel = live
        if self.cfg.batch_wall_budget_ms is not None:
            robots_dim = self._robots_dim()
            if robots_dim is not None:
                sel = sel.join(
                    F.broadcast(robots_dim.select("host", "crawl_delay_ms")),
                    "host",
                    "left",
                )
            else:
                sel = sel.withColumn("crawl_delay_ms", F.lit(None).cast("long"))
            # T3: robots crawl-delay overrides only if HIGHER
            delay_host = F.greatest(
                F.lit(self.cfg.default_delay_ms),
                F.coalesce(F.col("crawl_delay_ms"), F.lit(0)),
            )
            # delay 0 (API callers may pass default_delay_ms=0 with a
            # wall budget; the CLI guards this, the engine must too) means
            # NO pacing for that host — never a divide-by-zero, which
            # Spark 4's default ANSI mode raises as an error
            budget = F.when(
                delay_host > 0,
                F.greatest(
                    F.lit(1),
                    F.floor(
                        F.lit(self.cfg.batch_wall_budget_ms) / delay_host
                    ),
                ),
            ).otherwise(F.lit(1 << 60))
            pkey = "host"
            if self.cfg.politeness_key == "ip":
                # per-IP politeness (Mercator/IRLbot server-keyed): hosts
                # behind one address share ONE budget. The dns dim is
                # broadcast (tiny vs the frontier) and merged-on-read so
                # an append-style cache can never fan the batch out; the
                # SLOWEST host behind the address governs the shared
                # budget (max crawl-delay == min budget — politeness
                # must never over-admit).
                from inform_spark.operators.dns import dedup_dns_dim

                dns1 = dedup_dns_dim(self.cfg.dns_df).select(
                    "host", F.col("ip").alias("__dns_ip")
                )
                sel = sel.join(F.broadcast(dns1), "host", "left").withColumn(
                    "__pkey",
                    F.coalesce(F.col("__dns_ip"), F.col("host")),
                ).drop("__dns_ip")
                pkey = "__pkey"
                budget = F.min(budget).over(Window.partitionBy(pkey))
            sel = sel.withColumn("__budget", budget)
            # two-phase top-B per politeness key (hot-key skew,
            # north_rule): a salted pre-rank over (key, salt) partitions
            # cuts a 10^10-row hot key to <= B x n_salt candidates BEFORE
            # the exact per-key window — per-salt rank <= global key
            # rank, so every budget winner survives phase 1 and the
            # exact phase is loss-free.
            n_salt = self.cfg.politeness_salts
            if n_salt > 1:
                pre = F.row_number().over(
                    Window.partitionBy(
                        pkey, F.pmod(F.xxhash64("url"), F.lit(n_salt))
                    ).orderBy("priority", "frontier_offset")
                )
                sel = (
                    sel.withColumn("__pre", pre)
                    .filter(F.col("__pre") <= F.col("__budget"))
                    .drop("__pre")
                )
            rank = F.row_number().over(
                Window.partitionBy(pkey).orderBy("priority", "frontier_offset")
            )
            sel = (
                sel.withColumn("__rank", rank)
                .filter(F.col("__rank") <= F.col("__budget"))
                .drop("__budget", "__rank", "crawl_delay_ms", "__pkey")
            )
        # priority-then-FIFO prefix — TakeOrderedAndProject: top-b per
        # partition, then ONE merge task; no global sort
        return sel.orderBy("priority", "frontier_offset").limit(b)

    # ------------------------------------------------------------------
    @staticmethod
    def _with_parent_rank(batch: DataFrame) -> DataFrame:
        """Exact contiguous 1-based attempt rank by (priority,
        frontier_offset), computed in the batch's top-k merge task.

        ``batch`` is :meth:`_select_batch`'s ``orderBy(...).limit(b)``,
        whose TakeOrderedAndProject output is already ONE partition sorted
        on this key — so the unpartitioned window adds no Exchange and no
        Sort: it numbers the rows the merge task already holds. That task
        sees at most ``b <= MAX_BATCH_ROWS`` rows, the same bound that
        keeps parent_rank inside its 21 frontier_offset bits, so a batch
        never funnels more than 2^21 rows through it."""
        return batch.withColumn(
            "parent_rank",
            F.row_number().over(
                Window.orderBy("priority", "frontier_offset")
            ),
        )

    # ------------------------------------------------------------------
    def _fetch(self, batch: DataFrame) -> DataFrame:
        """Fixture fetch: broadcast the (small) batch against the host-pruned
        pages table; unmatched URLs are 404s. Both broadcasts are the SMALL
        sides (batch keys, hit urls) — the pages table streams, so fixture
        size never inflates per-batch broadcast cost. Retry semantics
        (S2/T5) are deterministic: `retries_needed` <= max_retries succeeds
        on attempt retries_needed+1, else fails after max_retries+1.

        fetch_mode='http' swaps the join for the live mapInPandas batch
        fetcher (S1/S2, sources/httpfetch) — same output contract."""
        if self.cfg.fetch_mode == "http":
            from inform_spark.sources.httpfetch import http_fetch_stage

            n = (
                self.cfg.render_partitions
                or self.spark.sparkContext.defaultParallelism
            )
            fetched = http_fetch_stage(
                batch,
                n,
                user_agent=self.cfg.http_user_agent,
                timeout_s=self.cfg.http_timeout_s,
                max_retries=self.cfg.max_retries,
                base_backoff_s=self.cfg.http_base_backoff_s,
                min_interval_ms=self.cfg.http_min_interval_ms,
                max_bytes=self.cfg.http_max_bytes,
            )
            return self._with_status(fetched)
        pages = self.pages
        if self._scope_hosts:
            pages = pages.filter(F.col("host").isin(self._scope_hosts))
        bkeys = batch.select("url", "depth", "frontier_offset", "parent_rank")
        hit = pages.join(F.broadcast(bkeys), "url", "inner")
        # misses = batch urls absent from the fixture. Derive the matched
        # url set by STREAMING the fixture against the broadcast batch
        # keys (output <= |batch|), then anti-join the batch against it —
        # never broadcast the fixture's url column itself (a 10^7-page
        # fixture would ship hundreds of MB per batch), and never re-run
        # the full pages join with the html payload just to learn keys.
        matched = pages.select("url").join(
            F.broadcast(bkeys.select("url")), "url", "inner"
        )
        miss = bkeys.join(F.broadcast(matched), "url", "left_anti")

        max_r = self.cfg.max_retries
        needed = F.coalesce(F.col("retries_needed"), F.lit(0))
        status_eff = (
            F.when(needed > max_r, F.lit(503))
            .otherwise(F.col("status_code"))
            .cast("int")
        )
        attempts = (
            F.when((needed > 0) & (needed <= max_r), needed + 1)
            .when(needed > max_r, max_r + 1)
            .when(F.col("status_code").isin(*sorted(RETRYABLE)), max_r + 1)
            .otherwise(1)
            .cast("int")
        )
        hit_out = hit.select(
            "url",
            "depth",
            "frontier_offset",
            "parent_rank",
            status_eff.alias("status_eff"),
            "content_type",
            "html",
            attempts.alias("attempts"),
            F.lit(False).alias("truncated"),
        )
        miss_out = miss.select(
            "url",
            "depth",
            "frontier_offset",
            "parent_rank",
            F.lit(404).alias("status_eff"),
            F.lit(None).cast("string").alias("content_type"),
            F.lit(None).cast("string").alias("html"),
            F.lit(1).alias("attempts"),
            F.lit(False).alias("truncated"),
        )
        return self._with_status(hit_out.unionByName(miss_out))

    @staticmethod
    def _with_status(fetched: DataFrame) -> DataFrame:
        """Common fetch epilogue (both modes): D3 status, error, F1 gate.
        A body hard-capped mid-markup keeps status=ok but carries a
        'truncated' marker in the error column (links/spans may be
        incomplete for that page — surfaced, never silent)."""
        ok = (F.col("status_eff") >= 200) & (F.col("status_eff") < 300)
        return fetched.withColumn(
            "status", F.when(ok, F.lit("ok")).otherwise(F.lit("failed"))
        ).withColumn(
            "error",
            F.when(ok & F.col("truncated"), F.lit("truncated"))
            .when(ok, F.lit(None).cast("string"))
            .otherwise(
                F.concat(F.lit("HTTP "), F.col("status_eff").cast("string"))
            ),
        ).withColumn(
            "is_doc",
            ok & F.coalesce(F.col("content_type"), F.lit("")).contains("text/html"),
        )

    # ------------------------------------------------------------------
    def _discover(
        self, rendered: DataFrame, robots_filter, robots_join_dim=None
    ) -> DataFrame:
        """Candidate-link pipeline: explode → native filters → dedup.

        Robots (F6) has two formulations chosen in :meth:`run` by dim size:
        ``robots_filter`` (closure UDF, rules shipped once in the pickle —
        small crawls) or ``robots_join_dim`` (broadcast join + column UDF —
        web scale, rules never pass through the driver closure).

        Batch-invariant codegen: the input rows CARRY ``attempted_in_batch``
        (the discovering batch's id), so the frontier_offset base and
        ``discovered_in_batch`` are pure column arithmetic — no per-batch
        ``F.lit`` whose value would embed in whole-stage-codegen source and
        recompile this whole pipeline every batch, and no 1-row consts join
        (A/B'd: a broadcast exchange re-executes per consuming action,
        costing more than the recompile it saves)."""
        cfg = self.cfg
        links = rendered.select(
            "depth",
            "parent_rank",
            "attempted_in_batch",
            F.posexplode("links").alias("pos", "link"),
        )
        # native URL parts (JVM-side — no UDF). Host is the full netloc
        # (incl. any port, matching url_host/robots keys — parse_url HOST
        # would drop the port and break scoping on non-default ports);
        # canonicalized links already have a lowercase scheme+host.
        cand = links.select(
            F.col("link").alias("url"),
            F.regexp_extract("link", "^[a-z][a-z0-9+.-]*://([^/?#]+)", 1).alias("host"),
            # try_parse_url: a malformed-but-Python-resolvable href (e.g.
            # an unencoded space) must degrade to path "/" + null query,
            # not raise INVALID_URL under Spark 4's default ANSI mode and
            # kill the whole batch job
            F.coalesce(
                F.try_parse_url("link", F.lit("PATH")), F.lit("/")
            ).alias("path"),
            F.try_parse_url("link", F.lit("QUERY")).alias("query"),
            (F.col("depth") + 1).alias("depth"),
            (
                F.shiftleft(F.col("attempted_in_batch") + 1, BATCH_SHIFT)
                + F.col("parent_rank").cast("long") * F.lit(1 << PARENT_SHIFT)
                + F.least(F.col("pos"), F.lit(MAX_LINKS_PER_PAGE)).cast("long")
            ).alias("frontier_offset"),
            F.col("attempted_in_batch").alias("discovered_in_batch"),
        ).withColumn("path", F.when(F.col("path") == "", "/").otherwise(F.col("path")))

        # F2 same-host + F3 base-path. Root-scoped seeds (the common case)
        # need only a host membership test — a literal isin stays in codegen
        # and skips a per-batch broadcast join; non-trivial base paths take
        # the broadcast scope join.
        if not self._scopes:
            pass  # open scope: seeds_df bulk mode with no seed-list sites
        elif all(bp == "/" for _, bp in self._scopes):
            cand = cand.filter(F.col("host").isin(self._scope_hosts))
        else:
            cand = cand.join(F.broadcast(self._scopes_df()), "host", "inner").filter(
                (F.col("base_path") == "/")
                | (F.col("path") == F.col("base_path"))
                | F.col("path").startswith(F.concat(F.col("base_path"), F.lit("/")))
            ).drop("base_path")

        # F4 extension skip — single vectorized rlike, stays in codegen
        cand = cand.filter(~F.lower("path").rlike(SKIP_EXTENSIONS_RLIKE))

        # F5 globs (only when configured)
        if self._glob_udf is not None:
            cand = cand.filter(self._glob_udf(F.col("url")))

        # F6 robots: closure UDF (small dims) or broadcast join (web scale)
        pq = F.concat(
            F.col("path"),
            F.when(
                F.col("query").isNotNull(),
                F.concat(F.lit("?"), F.col("query")),
            ).otherwise(F.lit("")),
        )
        if robots_filter is not None:
            cand = cand.filter(robots_filter(F.col("host"), pq))
        elif robots_join_dim is not None:
            join_udf = make_robots_join_filter_udf()
            cand = (
                cand.join(
                    F.broadcast(
                        robots_join_dim.select("host", "disallow_prefixes")
                    ),
                    "host",
                    "left",
                )
                .filter(join_udf(F.col("host"), F.col("disallow_prefixes"), pq))
                .drop("disallow_prefixes")
            )
        cand = cand.drop("query")

        if cfg.max_depth is not None:
            cand = cand.filter(F.col("depth") <= cfg.max_depth)

        # priority assignment (north_rule priority queue): evaluated on the
        # candidate columns at discovery time; 0 (FIFO) when no rule is set
        if cfg.priority_col is not None:
            cand = cand.withColumn(
                "priority", cfg.priority_col().cast("int")
            )
        else:
            cand = cand.withColumn("priority", F.lit(0))

        # T7 in-batch dedup, order-stable: keep the FIRST discovery
        # (min frontier_offset) — struct-min keeps all columns consistent.
        # discovered_in_batch is constant within the batch, so the min is
        # a no-op carry (keeps it off a second consts join at append time).
        dedup = (
            cand.groupBy("url")
            .agg(
                F.min(
                    F.struct(
                        "frontier_offset", "host", "path", "depth", "priority",
                        "discovered_in_batch",
                    )
                ).alias("s")
            )
            .select(
                "url",
                F.col("s.host").alias("host"),
                F.col("s.path").alias("path"),
                F.col("s.depth").alias("depth"),
                F.col("s.priority").alias("priority"),
                F.col("s.frontier_offset").alias("frontier_offset"),
                F.col("s.discovered_in_batch").alias("discovered_in_batch"),
            )
        )
        return dedup

    # ------------------------------------------------------------------
    def _admit(
        self, delta: DataFrame, live_left: int, robots_filter, robots_join_dim
    ) -> tuple[int, int, int]:
        """Admission for the batch whose attempts ``delta`` was just
        written: discover → seen check → caps → frontier append.
        ``live_left`` is the live frontier left after this batch.

        The candidates are written ONCE, as the batch's frontier delta,
        and counted from its parquet footers (no cache, no count job; not
        an Observation either: AQE can elide its CollectMetrics node on
        an empty candidate set, wedging ``Observation.get``).
        Only a cap that applies rewrites it: the delta is un-staged, the
        capped rows are read back from the superseded directory, and that
        directory is deleted once the rewrite is written (no commit or
        manifest pins it; a crash before the delete leaves an orphan that
        resume ignores and ``vacuum`` removes). The template cap runs
        whenever it is set, then the O3 drop-new queue cap (reference
        src/WebCrawler.js:553-560) when the candidates outgrow
        ``max_queue_size - live_left``; both keep the lowest
        frontier_offsets.

        Returns ``(n_cand, n_admit, n_tpl_dropped)``; ``n_cand`` counts
        the candidates that reach the queue cap, so ``n_cand - n_admit``
        is the queue-cap drop."""
        cfg = self.cfg
        frontier_t = self.catalog.tables["frontier"]
        label = f"b{self.batch_id}"
        # reads ONLY (depth, parent_rank, links) from the attempts delta
        # (column pruning skips spans)
        dedup = self._discover(
            delta.filter("is_doc").select(
                "depth", "parent_rank", "links", "attempted_in_batch"
            ),
            robots_filter,
            robots_join_dim,
        )
        self._resolve_bloom()
        net_urls = self._net_frontier(frontier_t.read(cached=True)).select("url")
        probed = None
        try:
            if self._bloom is not None:
                from inform_spark.operators.bloom import bloom_partition

                # persist the probed candidates BEFORE branching: the
                # maybe/fresh filters and their union would otherwise
                # re-execute the whole discover pipeline (explode + robots
                # UDF + dedup shuffle + bloom probe) once per branch
                maybe_seen, fresh, probed = bloom_partition(
                    dedup, self._bloom, persist=True
                )
                new_links = fresh.unionByName(
                    maybe_seen.join(net_urls, "url", "left_anti")
                )
            else:
                new_links = dedup.join(net_urls, "url", "left_anti")
            # the append IS the one materialization of the discover
            # pipeline. coalesce (not repartition): the in-batch dedup
            # groupBy upstream is already a shuffle boundary, so this only
            # narrows the small post-shuffle tail (probe/anti-join/union)
            frontier_t.append(
                new_links.select(*schemas.FRONTIER.names),
                label, n_files=1, shuffle=False,
            )
        finally:
            if probed is not None:
                probed.unpersist()
        n_cand = frontier_t.last_dir_row_count()

        def rewrite(cap) -> int:
            old = frontier_t.last_dir
            src = self.spark.read.schema(schemas.FRONTIER).parquet(old)
            frontier_t.load_version(frontier_t.version - 1)
            frontier_t.append(cap(src), label, n_files=1, shuffle=False)
            shutil.rmtree(old, ignore_errors=True)
            return frontier_t.last_dir_row_count()

        n_tpl_dropped = 0
        if cfg.template_cap is not None:
            # structural trap cap: the per-(host, template) window sorts
            # only this batch's candidates
            from inform_spark.operators.traps import url_template_from_path

            tpl_w = Window.partitionBy(
                "host", url_template_from_path(F.col("path"))
            ).orderBy("frontier_offset")
            n_pre_tpl = n_cand
            n_cand = rewrite(
                lambda src: src.withColumn("__tr", F.row_number().over(tpl_w))
                .filter(F.col("__tr") <= cfg.template_cap)
                .drop("__tr")
            )
            n_tpl_dropped = n_pre_tpl - n_cand
        n_admit = n_cand
        if cfg.max_queue_size is not None:
            capacity = max(cfg.max_queue_size - live_left, 0)
            if n_cand > capacity:
                n_admit = rewrite(
                    lambda src: src.orderBy("frontier_offset").limit(capacity)
                )
                if not self.queue_warned:
                    self.queue_warned = True
                    # reference warns once when the queue cap first binds
                    logger.warning(
                        "frontier queue cap %s reached in batch %s: %s "
                        "candidate links dropped (lowest frontier_offset "
                        "admitted first)",
                        cfg.max_queue_size, self.batch_id, n_cand - n_admit,
                    )
        return n_cand, n_admit, n_tpl_dropped

    # ------------------------------------------------------------------
    def run(self, resume: bool = False, max_batches: int | None = None) -> CrawlSummary:
        cfg = self.cfg
        t0 = time.monotonic()
        if resume:
            self._restore()
        else:
            self._init_state()
        pool = ThreadPoolExecutor(max_workers=4)
        # the one run-long cache (web-scale robots formulation); the
        # finally releases it whether the run returns or raises
        robots_join_dim = None
        try:
            # robots sizing and the seen-filter build are independent Spark
            # jobs — overlap them (setup fixed cost = max, not sum). ONE job
            # decides AND fetches: limit(threshold+1) either returns the whole
            # (small) dim or proves it is too big.
            robots_dim = self._robots_dim()
            robots_head_f = None
            if robots_dim is not None:
                robots_head_f = pool.submit(
                    robots_dim.select("host", "disallow_prefixes")
                    .limit(cfg.robots_closure_max_hosts + 1)
                    .collect
                )
            if cfg.use_bloom and self._bloom is None:
                # the filter mirrors the NET frontier (everything ever
                # enqueued minus revocation tombstones, which supersets
                # `seen`) — the set the exact anti-join uses. bloom =
                # cheapest bits/key; cuckoo = same interface plus delete
                # (north_star's deletable fallback).
                # Build ONLY when this engine has no filter yet: run()'s
                # per-batch fold-in keeps an existing one current, and
                # invalidate(revoke=True) keeps a cuckoo tight via
                # delete() — rebuilding here would discard exactly the
                # O(changes)-instead-of-O(frontier) benefit that delete
                # exists for (a post-invalidate bloom is documented-safe
                # stale: the exact anti-join still re-admits).
                frontier_urls = self._net_frontier(
                    self.catalog.tables["frontier"].read()
                ).select("url")
                if cfg.seen_filter == "cuckoo":
                    from inform_spark.operators.cuckoo import ShardedCuckoo

                    # bits_per_shard -> bucket count at ~equal capacity:
                    # SLOTS(4) x 16-bit slots per bucket = 64 filter bits/bucket
                    nb = max(1 << 10, cfg.bloom_bits_per_shard // 64)
                    nb = 1 << (nb - 1).bit_length()  # next power of two
                    self._bloom = ShardedCuckoo.build(
                        self.spark, frontier_urls,
                        n_shards=cfg.bloom_shards, buckets_per_shard=nb,
                        approx_count=self.enqueued_total,
                    )
                else:
                    from inform_spark.operators.bloom import ShardedBloom

                    # enqueued_total is an exact upper bound on the net
                    # frontier (tombstones only shrink it): small runs fold
                    # the bitmaps driver-side, a 10^10-frontier resume stays
                    # on the distributed OR-reduce
                    self._bloom = ShardedBloom.build(
                        self.spark, frontier_urls,
                        n_shards=cfg.bloom_shards,
                        bits_per_shard=cfg.bloom_bits_per_shard,
                        approx_count=self.enqueued_total,
                    )
            summary = CrawlSummary()
            robots_filter = None
            if robots_head_f is not None:
                # size-thresholded formulation choice: collect-into-closure is
                # one pickle and zero per-batch joins, but only while the dim
                # is provably small; past the threshold the rules stay
                # distributed and each batch broadcast-joins them instead.
                head = robots_head_f.result()
                if len(head) <= cfg.robots_closure_max_hosts:
                    rules = {
                        r["host"]: list(r["disallow_prefixes"] or []) for r in head
                    }
                    robots_filter = make_robots_filter_udf(rules)
                else:
                    robots_join_dim = robots_dim.persist()
            batches_run = 0

            phase = summary.extra.setdefault("phase_s", {})
            # pre-loop fixed cost: state init/restore, bloom/cuckoo build over
            # the net frontier, robots dim sizing — all once per run
            phase["setup"] = round(time.monotonic() - t0, 3)

            def _mark(name, t_start):
                now = time.monotonic()
                phase[name] = round(phase.get(name, 0.0) + (now - t_start), 3)
                return now

            def _timed(name, fn, *a, **kw):
                """Wrap a pool task so its own wall lands in phase_s[name]."""
                def run():
                    t = time.monotonic()
                    try:
                        return fn(*a, **kw)
                    finally:
                        phase[name] = round(
                            phase.get(name, 0.0) + (time.monotonic() - t), 3
                        )
                return run

            while self.attempted < cfg.limit:
                t_ph = t_batch = time.monotonic()
                if max_batches is not None and batches_run >= max_batches:
                    break
                frontier_t = self.catalog.tables["frontier"]
                attempts_t = self.catalog.tables["attempts"]
                # the watermark prefix property needs pure FIFO: no politeness
                # budget, no custom priority rule, and no seed-supplied
                # priorities (seeds_df with a priority column selects by
                # (priority, offset) — not an offset prefix)
                fifo = (
                    cfg.batch_wall_budget_ms is None
                    and cfg.priority_col is None
                    and not self._seed_priorities
                )
                if fifo and self.offset_watermark is not None:
                    # FIFO mode: live frontier by watermark predicate (no seen
                    # read, no anti-join; prunes at the scan)
                    live = frontier_t.read(cached=True).filter(
                        F.col("frontier_offset") > F.lit(self.offset_watermark)
                    )
                else:
                    # column-pruned parquet scan (url only) of the attempts
                    # table — never cached: the fat span/link columns would
                    # ride along into the row cache. Both sides netted against
                    # tombstones (no-ops unless invalidate() was called).
                    seen_urls = self._net_seen_urls()
                    live = self._net_frontier(frontier_t.read(cached=True)).join(
                        seen_urls, "url", "left_anti"
                    )

                remaining = cfg.limit - self.attempted
                b = min(cfg.batch_size or remaining, remaining, MAX_BATCH_ROWS)
                # live frontier size by bookkeeping, not an extra anti-join job:
                # frontier rows are unique and seen ⊆ frontier, so
                # |live| = |enqueued| - |attempted|. Tombstones break the
                # identity (invalidated urls are live again, revoked ones are
                # gone), so the rare invalidation path pays an exact count.
                if self._has_tombstones:
                    live_count = live.count()
                else:
                    live_count = self.enqueued_total - self.attempted
                if live_count <= 0:
                    # frontier exhausted: don't plan+run a whole empty batch
                    # (fetch UDF spin-up, empty appends) just to learn n=0
                    break
                # parent_rank = attempt order within the batch, numbered in
                # the top-k merge task that selects it
                batch = self._with_parent_rank(self._select_batch(live, b))

                fetched = self._fetch(batch)
                # Render placement: fixture mode rides the (balanced) pages-scan
                # partitions — no shuffle of the html payload. HTTP mode fetches
                # partitioned BY HOST (exact pacing), which is render-skewed
                # whenever one host dominates the batch, so there the payload is
                # re-balanced by url hash before the CPU-heavy render. An
                # explicit render_partitions forces the url-hash repartition in
                # either mode.
                if cfg.render_partitions:
                    fetched = fetched.repartition(cfg.render_partitions, "url")
                elif cfg.fetch_mode == "http":
                    fetched = fetched.repartition(
                        self.spark.sparkContext.defaultParallelism, "url"
                    )

                # ONE materialization for the whole batch: fetch + render fused,
                # written STRAIGHT to the attempts delta (no row cache of the
                # fat span/link payload — every consumer below re-reads the
                # delta with parquet column pruning: seen-ish consumers touch
                # url/status, discover touches links, documents() touches
                # spans). Non-documents pass a null html through the UDF (empty
                # spans). Batch metrics ride along as an Observation — no
                # separate agg job.
                obs = Observation(f"batch-{self.batch_id}")
                rendered = (
                    fetched.withColumn(
                        "r",
                        self._render_udf(
                            F.col("url"),
                            F.when(F.col("is_doc"), F.col("html")),
                        ),
                    )
                    .select(
                        "url",
                        F.xxhash64("url").alias("url_hash"),
                        "depth",
                        "parent_rank",
                        "frontier_offset",
                        "status",
                        "error",
                        "is_doc",
                        F.col("r.doc_id").alias("doc_id"),
                        F.col("r.spans").alias("spans"),
                        F.col("r.links").alias("links"),
                        # the two batch-varying literals live ONLY in this
                        # small post-UDF projection stage; _discover derives
                        # its batch scalars from attempted_in_batch instead
                        F.lit(self.batch_id).cast("long").alias("attempted_in_batch"),
                        (F.lit(self.attempted) + F.col("parent_rank"))
                        .cast("long")
                        .alias("crawl_rank"),
                    )
                    .observe(
                        obs,
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
                        F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias(
                            "failed"
                        ),
                        F.sum(
                            F.when(
                                (F.col("status") == "ok") & ~F.col("is_doc"), 1
                            ).otherwise(0)
                        ).alias("skipped"),
                        F.min("frontier_offset").alias("lo"),
                        F.max("frontier_offset").alias("hi"),
                        F.coalesce(
                            F.sum(F.when(F.col("is_doc"), F.size("links")).otherwise(0)),
                            F.lit(0),
                        ).alias("n_disc"),
                    )
                )

                t_ph = _mark("plan", t_ph)
                # job 1: fetch+render straight into the attempts delta — the
                # batch's single materialization of the fat payload; metrics
                # fill in-flight, row count comes from the parquet footers
                # (driver-side metadata, no extra job). Natural partitioning:
                # a repartition would shuffle the payload, a coalesce would
                # collapse the render parallelism.
                attempts_t.append(
                    rendered.select([f.name for f in schemas.ATTEMPTS.fields]),
                    f"b{self.batch_id}",
                )
                n_batch = attempts_t.last_dir_row_count()
                t_ph = _mark("fetch_render", t_ph)
                if n_batch == 0:
                    break
                agg = obs.get
                delta = self.spark.read.schema(schemas.ATTEMPTS).parquet(
                    attempts_t.last_dir
                )

                n_cand, n_admit, n_tpl_dropped = self._admit(
                    delta, live_count - n_batch, robots_filter, robots_join_dim
                )
                t_ph = _mark("writes_discover", t_ph)

                n_disc = agg["n_disc"]
                lineage_row = (
                    self.batch_id,
                    agg["lo"] or 0,
                    agg["hi"] or 0,
                    self._bloom.version if self._bloom is not None else 0,
                    n_batch,
                    agg["ok"] or 0,
                    agg["failed"] or 0,
                    agg["skipped"] or 0,
                    int(n_disc),
                    n_admit,
                    n_cand - n_admit,
                    int((time.monotonic() - t_batch) * 1000),
                )
                # lineage is ONE row: driver-side pyarrow append (no Spark job).
                # The bloom fold-in of newly admitted urls is PIPELINED into the
                # next batch — it is only needed by the next discover, which
                # awaits the future (_resolve_bloom). It reads the urls back
                # from the just-written frontier delta (parquet scan of one
                # small file) instead of recomputing the discover plan. The
                # bloom is not checkpoint state (resume rebuilds it from the
                # frontier table), so the commit below does not wait on it.
                self.catalog.tables["lineage"].append_rows(
                    [lineage_row], f"b{self.batch_id}"
                )
                self.catalog.tables["partition_lineage"].append_rows(
                    self._partition_lineage_rows(attempts_t.last_dir),
                    f"b{self.batch_id}",
                )
                if self._bloom is not None and n_admit > 0:
                    delta_urls = (
                        self.spark.read.schema(schemas.FRONTIER)
                        .parquet(frontier_t.last_dir)
                        .select("url")
                    )
                    # bind loop variables NOW — the future runs after they rebind
                    self._bloom_future = pool.submit(_timed(
                        "w_bloom",
                        lambda b=self._bloom, d=delta_urls, n=n_admit: b.add(
                            self.spark, d, approx_count=n
                        ),
                    ))

                t_ph = _mark("bloom_lineage", t_ph)
                # --- atomic commit: the batch happened ---
                if fifo and self.offset_watermark is not None:
                    self.offset_watermark = max(self.offset_watermark, agg["hi"] or 0)
                else:
                    # a politeness-budget batch may skip ahead of unfetched
                    # offsets: the prefix property is gone for good
                    self.offset_watermark = None
                self.attempted += n_batch
                self.enqueued_total += n_admit
                self.batch_id += 1
                batches_run += 1
                self.catalog.commit(self._state())

                summary.batches += 1
                summary.attempted += n_batch
                summary.ok += agg["ok"] or 0
                summary.failed += agg["failed"] or 0
                summary.skipped_non_html += agg["skipped"] or 0
                summary.links_discovered += int(n_disc)
                summary.links_admitted += n_admit
                summary.links_dropped_cap += n_cand - n_admit
                summary.links_dropped_template += n_tpl_dropped
                t_ph = _mark("commit", t_ph)

                if (
                    cfg.compact_every_batches
                    and self.batch_id % cfg.compact_every_batches == 0
                ):
                    # table maintenance at a batch boundary: fold the
                    # accumulated micro-deltas into right-sized files and
                    # re-commit so the compacted snapshots are the pinned
                    # ones. The pipelined bloom fold-in reads the frontier
                    # delta lazily — resolve it BEFORE the delta dirs are
                    # superseded (vacuum stays manual: time-travel preserved).
                    self._resolve_bloom()
                    self.catalog.tables["attempts"].compact(
                        n_files=max(1, self.attempted // 500_000)
                    )
                    self.catalog.tables["frontier"].compact(
                        n_files=max(1, self.enqueued_total // 2_000_000)
                    )
                    self.catalog.commit(self._state())
                    _mark("compact", t_ph)

            t_fin = time.monotonic()
            self._resolve_bloom()
            pool.shutdown()
            phase["final"] = round(time.monotonic() - t_fin, 3)
            summary.wall_ms = (time.monotonic() - t0) * 1000
            return summary
        finally:
            # a setup/batch exception must not leak the pool or an
            # in-flight never-awaited future (idempotent after the success
            # path's own shutdown above)
            pool.shutdown(wait=False, cancel_futures=True)
            if robots_join_dim is not None:
                robots_join_dim.unpersist()

    # ------------------------------------------------------------------
    def _net_attempts(self) -> DataFrame:
        """Attempts minus 'seen' tombstones (full-width rows)."""
        a = self.catalog.tables["attempts"].read()
        if not self._has_tombstones:
            return a
        t = (
            self.catalog.tables["tombstones"].read()
            .filter(F.col("kind") == "seen")
            .select(F.col("url").alias("t_url"), "as_of_batch")
        )
        return a.join(
            t,
            (a["url"] == t["t_url"])
            & (a["attempted_in_batch"] < t["as_of_batch"]),
            "left_anti",
        )

    def documents(self) -> DataFrame:
        """Column-pruned view of the attempts deltas (input_hint shape)."""
        return (
            self._net_attempts()
            .filter("is_doc")
            .select(
                "doc_id", "url", "spans",
                F.col("attempted_in_batch").alias("batch_id"),
            )
        )

    def seen(self) -> DataFrame:
        """Column-pruned view of the attempts deltas (D2/D3 seen set)."""
        return self._net_attempts().select(
            "url", "url_hash", "status", "error",
            "attempted_in_batch", "crawl_rank",
        )

    def lineage(self) -> DataFrame:
        return self.catalog.tables["lineage"].read()

    def partition_lineage(self) -> DataFrame:
        return self.catalog.tables["partition_lineage"].read()

    def frontier(self) -> DataFrame:
        return self.catalog.tables["frontier"].read()

    def summary_df(self) -> DataFrame:
        """A1 crawl counters: groupBy(status).count() (S11 summary sink)."""
        return self.seen().groupBy("status").count()
