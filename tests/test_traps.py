"""Crawler-trap defense: URL templating, trap detection, and the engine's
per-(host, template) admission cap."""

from pyspark.sql import functions as F

from inform_spark.operators.traps import trap_templates, url_host, url_template
from inform_spark.plans.crawl import CrawlConfig, CrawlEngine
from inform_spark.schemas import ROBOTS


def test_url_template_rules(spark):
    rows = spark.createDataFrame(
        [
            ("https://a.test/cal/2024/05/17",),
            ("https://a.test/s/deadbeefcafe1234/item",),
            ("https://a.test/plain/path",),
            ("https://a.test/",),
            ("https://a.test",),
            ("https://a.test/p?page=2",),
        ],
        "url string",
    ).select(
        url_host(F.col("url")).alias("h"), url_template(F.col("url")).alias("t")
    )
    got = [(r["h"], r["t"]) for r in rows.collect()]
    assert got == [
        ("a.test", "/cal/{N}/{N}/{N}"),
        ("a.test", "/s/{H}/item"),
        ("a.test", "/plain/path"),
        ("a.test", "/"),
        ("a.test", ""),  # no path at all
        ("a.test", "/p"),  # query excluded from the template
    ]


def test_trap_templates_threshold(spark):
    urls = [(f"https://t.test/trap/{i}",) for i in range(10)]
    urls += [("https://t.test/about",), ("https://t.test/contact",)]
    out = trap_templates(
        spark.createDataFrame(urls, "url string"), min_count=5
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["host"], r["template"], r["n_urls"]) == ("t.test", "/trap/{N}", 10)
    assert r["example_url"] == "https://t.test/trap/0"


def _page(url, links, host):
    body = "".join(f'<a href="{u}">x</a>' for u in links)
    return dict(
        url=url,
        host=host,
        status_code=200,
        content_type="text/html",
        html=f"<html><body><main><h1>{url}</h1>{body}</main></body></html>",
        retries_needed=0,
    )


def test_engine_template_cap_bounds_trap(spark, tmp_path):
    host = "trap.test"
    seed = f"https://{host}/"
    trap_urls = [f"https://{host}/trap/page-{i}" for i in range(1, 13)]
    about = f"https://{host}/about"
    pages = [_page(seed, [about] + trap_urls, host), _page(about, [], host)]
    pages += [_page(u, [], host) for u in trap_urls]
    pages_df = spark.createDataFrame(pages)
    robots_df = spark.createDataFrame([(host, False, [], None)], schema=ROBOTS)
    eng = CrawlEngine(
        spark,
        pages_df,
        robots_df,
        CrawlConfig(seeds=[seed], limit=100, template_cap=3),
        checkpoint_dir=str(tmp_path),
    )
    s = eng.run()
    assert s.links_dropped_template == 9
    seen = {r["url"] for r in eng.seen().collect()}
    # FIFO prefix kept: the first 3 trap links by in-page order
    assert {u for u in trap_urls if u in seen} == set(trap_urls[:3])
    assert about in seen and seed in seen
    # non-trap pages all crawled; totals add up (1 seed + 1 about + 3 trap)
    assert len(seen) == 5

    # both caps bind in the seed's batch: the template cap first cuts the
    # 13 candidates to about + trap 1-3, then the queue cap admits the
    # FIFO prefix of 2 that fits
    eng = CrawlEngine(
        spark,
        pages_df,
        robots_df,
        CrawlConfig(seeds=[seed], limit=100, template_cap=3, max_queue_size=2),
        checkpoint_dir=str(tmp_path / "both"),
    )
    s = eng.run()
    assert (s.links_dropped_template, s.links_dropped_cap) == (9, 2)
    assert {r["url"] for r in eng.seen().collect()} == {
        seed, about, trap_urls[0]
    }
