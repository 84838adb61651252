"""End-to-end crawl equality: Spark engine vs sequential reference oracle.

The three correctness gates (BASELINE.md):
(a) final URL-seen set equality, (b) crawl-order equality vs the sequential
(concurrency=1) reference semantics, (c) per-document span-sequence equality
on (kind, text, media_ref, order).
"""

import pytest

from inform_spark.plans.crawl import CrawlConfig, CrawlEngine
from inform_spark.reference_impl import crawl_sequential
from inform_spark.sources.pages import generate_site

N_HOSTS = 3
PAGES_PER_HOST = 22


@pytest.fixture(scope="module")
def site():
    return generate_site(N_HOSTS, PAGES_PER_HOST)


@pytest.fixture(scope="module")
def site_dfs(spark, site):
    pages, robots = site
    from inform_spark.schemas import ROBOTS

    pages_df = spark.createDataFrame(pages).cache()
    robots_df = spark.createDataFrame(
        [
            (r["host"], r["exists"], r["disallow_prefixes"], r["crawl_delay_ms"])
            for r in robots
        ],
        schema=ROBOTS,
    ).cache()
    pages_df.count()
    return pages_df, robots_df


def run_engine(spark, site_dfs, tmp_path, **cfg_kwargs):
    pages_df, robots_df = site_dfs
    cfg = CrawlConfig(**cfg_kwargs)
    eng = CrawlEngine(spark, pages_df, robots_df, cfg, checkpoint_dir=str(tmp_path))
    summary = eng.run()
    return eng, summary


def assert_engine_equals_oracle(eng, oracle, check_order=True):
    seen_rows = eng.seen().collect()
    eng_seen = {r["url"]: r["status"] for r in seen_rows}
    assert eng_seen == oracle.seen, (
        f"seen-set mismatch: only_engine={set(eng_seen) - set(oracle.seen)}, "
        f"only_oracle={set(oracle.seen) - set(eng_seen)}"
    )
    if check_order:
        eng_order = [
            r["url"] for r in sorted(seen_rows, key=lambda r: r["crawl_rank"])
        ]
        assert eng_order == oracle.order, "crawl-order mismatch"
    # span-sequence equality per document
    doc_rows = eng.documents().collect()
    eng_docs = {r["url"]: r for r in doc_rows}
    assert set(eng_docs) == set(oracle.documents)
    for url, od in oracle.documents.items():
        er = eng_docs[url]
        assert er["doc_id"] == od["doc_id"]
        eng_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in er["spans"]
        ]
        ora_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in od["spans"]
        ]
        assert eng_spans == ora_spans, f"span mismatch for {url}"


def test_crawl_matches_oracle_full(spark, site, site_dfs, tmp_path):
    pages, robots = site
    seed = "https://site0.test/"
    oracle = crawl_sequential(pages, robots, seed, limit=100)
    eng, summary = run_engine(
        spark, site_dfs, tmp_path, seeds=[seed], limit=100
    )
    assert summary.attempted == len(oracle.order)
    assert_engine_equals_oracle(eng, oracle)


def test_crawl_matches_oracle_small_batches(spark, site, site_dfs, tmp_path):
    """Batched execution (batch_size=3) must still be order-equal to the
    sequential semantics — the frontier_offset encoding is the proof."""
    pages, robots = site
    seed = "https://site1.test/"
    oracle = crawl_sequential(pages, robots, seed, limit=40)
    eng, summary = run_engine(
        spark, site_dfs, tmp_path, seeds=[seed], limit=40, batch_size=3
    )
    assert_engine_equals_oracle(eng, oracle)


def test_crawl_matches_oracle_limit(spark, site, site_dfs, tmp_path):
    pages, robots = site
    seed = "https://site0.test/"
    oracle = crawl_sequential(pages, robots, seed, limit=7)
    eng, summary = run_engine(spark, site_dfs, tmp_path, seeds=[seed], limit=7)
    assert summary.attempted == 7
    assert_engine_equals_oracle(eng, oracle)


def test_crawl_base_path_scoped(spark, site, site_dfs, tmp_path):
    pages, robots = site
    seed = "https://site0.test/docs/item-0"
    oracle = crawl_sequential(pages, robots, seed, limit=30)
    eng, _ = run_engine(spark, site_dfs, tmp_path, seeds=[seed], limit=30)
    assert_engine_equals_oracle(eng, oracle)


def test_crawl_with_globs(spark, site, site_dfs, tmp_path):
    pages, robots = site
    seed = "https://site0.test/"
    oracle = crawl_sequential(
        pages, robots, seed, limit=60, exclude=["blog/**"]
    )
    eng, _ = run_engine(
        spark, site_dfs, tmp_path, seeds=[seed], limit=60, exclude=["blog/**"]
    )
    assert_engine_equals_oracle(eng, oracle)


def test_crawl_no_robots_host(spark, site, site_dfs, tmp_path):
    """Host without robots.txt: admin pages crawlable (allow-all)."""
    pages5, robots5 = generate_site(5, PAGES_PER_HOST)
    from inform_spark.schemas import ROBOTS

    pages_df = spark.createDataFrame(pages5)
    robots_df = spark.createDataFrame(
        [
            (r["host"], r["exists"], r["disallow_prefixes"], r["crawl_delay_ms"])
            for r in robots5
        ],
        schema=ROBOTS,
    )
    seed = "https://site4.test/"
    oracle = crawl_sequential(pages5, robots5, seed, limit=60)
    cfg = CrawlConfig(seeds=[seed], limit=60)
    eng = CrawlEngine(spark, pages_df, robots_df, cfg, checkpoint_dir=str(tmp_path))
    eng.run()
    assert any("/admin/" in r["url"] for r in eng.seen().collect())
    assert_engine_equals_oracle(eng, oracle)


def test_crawl_queue_cap(spark, site, site_dfs, tmp_path):
    """Queue cap (drop-new): batch_size=1 reproduces the reference's
    per-link cap accounting exactly."""
    pages, robots = site
    seed = "https://site0.test/"
    oracle = crawl_sequential(pages, robots, seed, limit=100, max_queue_size=3)
    eng, summary = run_engine(
        spark,
        site_dfs,
        tmp_path,
        seeds=[seed],
        limit=100,
        max_queue_size=3,
        batch_size=1,
    )
    assert summary.links_dropped_cap > 0
    assert_engine_equals_oracle(eng, oracle)


def test_crawl_bloom_path_identical(spark, site, site_dfs, tmp_path):
    """Bloom-filter dedup path must produce the identical seen set / order /
    docs as the exact path (false positives re-checked, no false negatives)."""
    pages, robots = site
    seed = "https://site0.test/"
    oracle = crawl_sequential(pages, robots, seed, limit=100)
    eng, _ = run_engine(
        spark,
        site_dfs,
        tmp_path,
        seeds=[seed],
        limit=100,
        use_bloom=True,
        bloom_shards=4,
        bloom_bits_per_shard=1 << 12,
    )
    assert_engine_equals_oracle(eng, oracle)


def test_crawl_robots_broadcast_join_path_identical(spark, site, site_dfs, tmp_path):
    """Web-scale robots formulation (broadcast join + column UDF, engaged
    above robots_closure_max_hosts) must be byte-equal to the closure-UDF
    path — forced here with threshold 0."""
    pages, robots = site
    seed = "https://site0.test/"
    oracle = crawl_sequential(pages, robots, seed, limit=100)
    eng, _ = run_engine(
        spark, site_dfs, tmp_path, seeds=[seed], limit=100,
        robots_closure_max_hosts=0,
    )
    # disallowed /admin/ URLs were filtered by the JOIN path
    assert not any("/admin/" in r["url"] for r in eng.seen().collect())
    assert_engine_equals_oracle(eng, oracle)


def test_crawl_politeness_budget_single_host_is_prefix(spark, site, site_dfs, tmp_path):
    """Politeness budget on a single host: the schedule is still the exact
    sequential order (budget takes a FIFO prefix)."""
    pages, robots = site
    seed = "https://site0.test/"
    oracle = crawl_sequential(pages, robots, seed, limit=20)
    eng, summary = run_engine(
        spark,
        site_dfs,
        tmp_path,
        seeds=[seed],
        limit=20,
        batch_wall_budget_ms=4000,  # default delay 1000 -> budget 4/host/batch
    )
    assert_engine_equals_oracle(eng, oracle)
    # budget actually bound the batch size
    assert summary.batches >= 5


def test_crawl_resume_mid_crawl(spark, site, site_dfs, tmp_path):
    """Kill-and-resume: stop after 2 batches, resume from checkpoint, final
    state must be byte-identical to an uninterrupted run."""
    pages, robots = site
    seed = "https://site2.test/"
    oracle = crawl_sequential(pages, robots, seed, limit=30)

    cfg = CrawlConfig(seeds=[seed], limit=30, batch_size=5)
    ck = str(tmp_path / "resumable")
    eng1 = CrawlEngine(spark, site_dfs[0], site_dfs[1], cfg, checkpoint_dir=ck)
    eng1.run(max_batches=2)
    assert eng1.attempted < 30

    # new engine instance = process restart; restore from checkpoint
    eng2 = CrawlEngine(spark, site_dfs[0], site_dfs[1], cfg, checkpoint_dir=ck)
    eng2.run(resume=True)
    assert_engine_equals_oracle(eng2, oracle)


def test_queue_cap_bloom_resume_after_vacuum(spark, site_dfs, tmp_path):
    """Queue cap + bloom filter + kill/vacuum/resume: the cap rewrites a
    batch's frontier delta, the bloom fold-in reads the rewritten one,
    and the superseded directory is already gone (vacuum finds no
    frontier orphan). Seen set, crawl order and per-batch cap drops
    equal an uninterrupted run."""
    cfg = CrawlConfig(
        seeds=["https://site0.test/"], limit=30, batch_size=5,
        max_queue_size=3, use_bloom=True,
    )

    def outcome(eng):
        rows = sorted(eng.seen().collect(), key=lambda r: r["crawl_rank"])
        drops = [
            r["links_dropped_cap"]
            for r in eng.lineage().orderBy("batch_id").collect()
        ]
        return {r["url"]: r["status"] for r in rows}, [r["url"] for r in rows], drops

    straight = CrawlEngine(
        spark, *site_dfs, cfg, checkpoint_dir=str(tmp_path / "straight")
    )
    straight.run()
    want = outcome(straight)
    assert any(d > 0 for d in want[2])

    ck = str(tmp_path / "resumed")
    eng1 = CrawlEngine(spark, *site_dfs, cfg, checkpoint_dir=ck)
    eng1.run(max_batches=2)
    # the cap bound in one of the first two batches, and each rewrite
    # deleted the delta it superseded
    assert any(d > 0 for d in want[2][:2])
    assert eng1.catalog.vacuum()["frontier"] == 0

    eng2 = CrawlEngine(spark, *site_dfs, cfg, checkpoint_dir=ck)
    eng2.run(resume=True)
    assert outcome(eng2) == want


def test_lineage_recorded(spark, site, site_dfs, tmp_path):
    pages, robots = site
    seed = "https://site0.test/"
    eng, summary = run_engine(
        spark, site_dfs, tmp_path, seeds=[seed], limit=30, batch_size=10
    )
    rows = eng.lineage().orderBy("batch_id").collect()
    assert len(rows) == summary.batches
    assert sum(r["pages_attempted"] for r in rows) == summary.attempted
    # each batch records its own wall, not the time since run() started
    assert all(r["wall_ms"] > 0 for r in rows)
    assert sum(r["wall_ms"] for r in rows) <= summary.wall_ms


def test_batch_rank_rides_topk_merge(spark, site_dfs, tmp_path):
    """One batch's select→rank plan: parent_rank is a window over the
    top-k's single sorted merge partition, with no range shuffle, no
    Exchange and no Sort between them — whether the live frontier is
    larger than the batch or fits in it."""
    pages_df, robots_df = site_dfs
    seeds = ["https://site0.test/", "https://site1.test/"]
    eng = CrawlEngine(
        spark, pages_df, robots_df, CrawlConfig(seeds=seeds, limit=10),
        checkpoint_dir=str(tmp_path),
    )
    eng._init_state()
    for b in (1, 10):  # live (2 seeds) > b, then live <= b
        batch = eng._with_parent_rank(eng._select_batch(eng.frontier(), b))
        plan = batch._jdf.queryExecution().executedPlan().toString()
        assert plan.count("TakeOrderedAndProject") == 1, plan
        assert "Window [row_number()" in plan, plan
        assert "rangepartitioning" not in plan, plan
        assert "Exchange" not in plan and "Sort [" not in plan, plan
        ranks = [r["parent_rank"] for r in batch.orderBy("parent_rank").collect()]
        assert ranks == list(range(1, min(b, len(seeds)) + 1))


def test_summary_rollup(spark, site, site_dfs, tmp_path):
    pages, robots = site
    seed = "https://site0.test/"
    eng, summary = run_engine(spark, site_dfs, tmp_path, seeds=[seed], limit=50)
    counts = {r["status"]: r["count"] for r in eng.summary_df().collect()}
    assert counts.get("ok", 0) == summary.ok
    assert counts.get("failed", 0) == summary.failed


# ---------------------------------------------------------------------------
# per-IP politeness (round 5): CrawlConfig(politeness_key="ip")
# ---------------------------------------------------------------------------


def _attempts_by_batch(eng):
    out = {}
    for r in eng.seen().collect():
        out.setdefault(r["attempted_in_batch"], []).append(r["url"])
    return out


def test_crawl_ip_politeness_identity_dns_matches_host_mode(
    spark, site, site_dfs, tmp_path
):
    """politeness_key='ip' with a one-ip-per-host dns dim is byte-equal
    to the reference-default host mode: same seen set, same order."""
    pages_df, robots_df = site_dfs
    seeds = ["https://site0.test/", "https://site1.test/"]
    dns = spark.createDataFrame(
        [(f"site{i}.test", f"10.0.0.{i}") for i in range(N_HOSTS)],
        "host string, ip string",
    )
    base = dict(seeds=seeds, limit=30, batch_wall_budget_ms=4000)
    eng_host = CrawlEngine(
        spark, pages_df, robots_df, CrawlConfig(**base),
        checkpoint_dir=str(tmp_path / "host"),
    )
    eng_host.run()
    eng_ip = CrawlEngine(
        spark, pages_df, robots_df,
        CrawlConfig(**base, politeness_key="ip", dns_df=dns),
        checkpoint_dir=str(tmp_path / "ip"),
    )
    eng_ip.run()
    rows_h = {
        (r["url"], r["status"], r["crawl_rank"])
        for r in eng_host.seen().collect()
    }
    rows_i = {
        (r["url"], r["status"], r["crawl_rank"])
        for r in eng_ip.seen().collect()
    }
    assert rows_h == rows_i


def test_crawl_ip_politeness_shared_budget_host_farm(
    spark, site, site_dfs, tmp_path
):
    """Two hosts behind ONE address share a single budget: per batch the
    farm's combined attempts never exceed the per-key budget the host
    mode would grant EACH host (robots off so delay = default 1000 ->
    budget 4/key/batch)."""
    pages_df, _ = site_dfs
    seeds = ["https://site0.test/", "https://site1.test/"]
    dns = spark.createDataFrame(
        [("site0.test", "10.9.9.9"), ("site1.test", "10.9.9.9")],
        "host string, ip string",
    )
    eng = CrawlEngine(
        spark, pages_df, None,
        CrawlConfig(
            seeds=seeds, limit=24, batch_wall_budget_ms=4000,
            politeness_key="ip", dns_df=dns,
        ),
        checkpoint_dir=str(tmp_path / "farm"),
    )
    eng.run()
    for batch, urls in _attempts_by_batch(eng).items():
        assert len(urls) <= 4, (
            f"batch {batch} admitted {len(urls)} farm urls > shared "
            f"budget 4: {urls}"
        )
    # and the host-keyed mode admits MORE per batch across the two hosts
    eng_h = CrawlEngine(
        spark, pages_df, None,
        CrawlConfig(seeds=seeds, limit=24, batch_wall_budget_ms=4000),
        checkpoint_dir=str(tmp_path / "hostmode"),
    )
    eng_h.run()
    per_batch_h = {b: len(u) for b, u in _attempts_by_batch(eng_h).items()}
    assert max(per_batch_h.values()) > 4


def test_crawl_ip_politeness_slowest_host_governs(spark, site, site_dfs, tmp_path):
    """The shared budget is the MINIMUM over the farm (max crawl-delay
    wins): a 4000ms-delay host behind the same ip as a 1000ms-delay
    host pulls the whole address down to budget 1/batch."""
    from inform_spark.schemas import ROBOTS

    pages_df, _ = site_dfs
    seeds = ["https://site0.test/", "https://site1.test/"]
    robots = spark.createDataFrame(
        [("site0.test", True, [], 4000), ("site1.test", True, [], 1000)],
        schema=ROBOTS,
    )
    dns = spark.createDataFrame(
        [("site0.test", "10.9.9.9"), ("site1.test", "10.9.9.9")],
        "host string, ip string",
    )
    eng = CrawlEngine(
        spark, pages_df, robots,
        CrawlConfig(
            seeds=seeds, limit=6, batch_wall_budget_ms=4000,
            politeness_key="ip", dns_df=dns,
        ),
        checkpoint_dir=str(tmp_path / "slow"),
    )
    eng.run()
    for batch, urls in _attempts_by_batch(eng).items():
        assert len(urls) <= 1, (
            f"batch {batch}: shared budget must be min over the farm "
            f"(4000ms delay -> 1/batch), got {urls}"
        )


def test_crawl_ip_politeness_config_validation(spark, site_dfs):
    pages_df, robots_df = site_dfs
    with pytest.raises(ValueError, match="dns_df"):
        CrawlEngine(
            spark, pages_df, robots_df,
            CrawlConfig(seeds=["https://site0.test/"], politeness_key="ip"),
        )
    with pytest.raises(ValueError, match="politeness_key"):
        CrawlEngine(
            spark, pages_df, robots_df,
            CrawlConfig(seeds=["https://site0.test/"], politeness_key="cidr"),
        )
