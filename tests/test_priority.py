"""Priority-queue frontier (north_rule: keyed by host/depth/priority):
a custom priority rule front-runs the FIFO without changing the final
URL-seen set; default priority 0 stays reference-order-equal (covered by
test_crawl_e2e)."""

import pyspark.sql.functions as F
import pytest

from inform_spark.plans.crawl import CrawlConfig, CrawlEngine
from inform_spark.sources.pages import pages_dataframe, robots_dataframe

def GUIDE_FIRST():
    return F.when(F.col("path").startswith("/guide"), F.lit(0)).otherwise(
        F.lit(1)
    )


@pytest.fixture(scope="module")
def site(spark):
    # index_link_cap=None: the seed links to every page, so the whole site
    # enters the frontier in one discovery round and pop order is decided
    # purely by (priority, frontier_offset)
    pages = pages_dataframe(spark, 1, 40, index_link_cap=None).cache()
    robots = robots_dataframe(spark, 1)
    yield pages, robots
    pages.unpersist()


def _run(spark, site, tmp_path, name, priority_col=None, limit=200):
    pages, robots = site
    cfg = CrawlConfig(
        seeds=["https://site0.test/"],
        limit=limit,
        batch_size=7,
        priority_col=priority_col,
    )
    eng = CrawlEngine(
        spark, pages, robots, cfg, checkpoint_dir=str(tmp_path / name)
    )
    eng.run()
    return {r["url"]: r["crawl_rank"] for r in eng.seen().collect()}


def test_priority_front_runs_fifo(spark, site, tmp_path):
    fifo = _run(spark, site, tmp_path, "fifo")
    prio = _run(spark, site, tmp_path, "prio", priority_col=GUIDE_FIRST)

    # same final URL-seen SET: priority permutes pop order, never coverage
    assert set(fifo) == set(prio)
    # crawl ranks stay contiguous 1..n when priority reorders each batch
    assert sorted(prio.values()) == list(range(1, len(prio) + 1))

    # the comparable cohort: section item pages all enter the frontier in
    # the same discovery round (when their section page is fetched), so
    # among them priority fully decides pop order
    guide_items = {u for u in prio if "/guide/item-" in u}
    other_items = {
        u for u in prio if "/docs/item-" in u or "/blog/item-" in u
    }
    assert guide_items and other_items
    assert max(prio[u] for u in guide_items) < min(
        prio[u] for u in other_items
    )
    # and FIFO genuinely interleaves them (the rule changed something)
    assert max(fifo[u] for u in guide_items) > min(
        fifo[u] for u in other_items
    )


def test_priority_resume_keeps_queue_discipline(spark, site, tmp_path):
    pages, robots = site
    cfg = CrawlConfig(
        seeds=["https://site0.test/"],
        limit=40,
        batch_size=7,
        priority_col=GUIDE_FIRST,
    )
    ck = str(tmp_path / "resume")
    e1 = CrawlEngine(spark, pages, robots, cfg, checkpoint_dir=ck)
    e1.run(max_batches=2)
    e2 = CrawlEngine(spark, pages, robots, cfg, checkpoint_dir=ck)
    e2.run(resume=True)
    ranks = {r["url"]: r["crawl_rank"] for r in e2.seen().collect()}
    assert len(ranks) == 40 and len(set(ranks.values())) == 40
    # queue discipline survives the restart: fetched guide items still
    # precede every fetched docs/blog item
    gi = [ranks[u] for u in ranks if "/guide/item-" in u]
    oi = [ranks[u] for u in ranks if "/docs/item-" in u or "/blog/item-" in u]
    if gi and oi:
        assert max(gi) < min(oi)
