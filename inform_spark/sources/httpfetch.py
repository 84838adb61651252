"""The package's one HTTP client (SURVEY §2.1 S1/S2/S3/S8).

Every live source speaks HTTP through this module, with one policy:

- :func:`http_get` is the single request: a GET with the crawler's
  User-Agent plus optional validators (``If-None-Match`` /
  ``If-Modified-Since``) and extra headers (``Authorization``,
  ``Accept``). It reads at most ``max_bytes + 1`` body bytes, so no
  response can run a task out of memory, and reports whether the cap was
  hit. A 304 (urllib raises it as an ``HTTPError``) keeps the validators
  it answered.
- :func:`paced_get` is the single retry-and-pacing loop: retry
  {429, 500, 502, 503, 504} and network errors with exponential backoff,
  base 1 s doubling per attempt, ``max_retries`` default 3 (reference
  ``fetchWithRetry`` src/WebCrawler.js:165-202 and its git-mode copy
  src/GitCrawler.js:144-193), and wait out a per-host min interval before
  every attempt (src/GitCrawler.js:147-157). A network error that
  outlives its retries reads as 503.

Callers:

- crawl fetch (:func:`http_fetch_stage`) and recrawl revalidation
  (:func:`revalidate_stage`): one ``mapInPandas`` row loop; a crawl fetch
  is a revalidation with null validators. Each partition streams Arrow
  batches of frontier rows, so parallelism comes from partitions (the
  Spark analog of the reference's promise pool, src/WebCrawler.js:243-273).
  Partitioning the batch by host makes the pacing exact: one host never
  spans two workers. Failures are rows, never exceptions; non-HTML
  responses keep their status but carry a null body (the F1 gate
  downstream marks them skipped-not-failed, src/WebCrawler.js:325-329); a
  body over the cap is kept clipped and flagged ``truncated``.
- robots.txt (:func:`fetch_robots_df`, S3): one GET per origin, missing or
  erroring => allow-all (src/RobotsParser.js:20-64).
- git mode (``sources.githubapi``): contents-API listings and download
  URLs through :func:`paced_get`; a body over the cap is a failure.
- feeds and YouTube (``sources.feeds``): single GETs of feed bodies, API
  payloads, channel pages and transcripts; a body over the cap is a
  failure.
"""

from __future__ import annotations

import time
import urllib.error
import urllib.request
from collections.abc import Iterator
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

RETRYABLE = {429, 500, 502, 503, 504}
DEFAULT_UA = "Inform/1.0 (inform-spark)"
DEFAULT_MAX_BYTES = 16 * 1024 * 1024

FETCH_OUT = StructType(
    [
        StructField("url", StringType(), False),
        StructField("depth", IntegerType(), True),
        StructField("frontier_offset", LongType(), True),
        StructField("parent_rank", IntegerType(), True),
        StructField("status_eff", IntegerType(), False),
        StructField("content_type", StringType(), True),
        StructField("html", StringType(), True),
        StructField("attempts", IntegerType(), False),
        StructField("truncated", BooleanType(), False),
    ]
)

REVALIDATE_OUT = StructType(
    [
        StructField("url", StringType(), False),
        StructField("status_eff", IntegerType(), False),
        StructField("content_type", StringType(), True),
        StructField("html", StringType(), True),
        StructField("truncated", BooleanType(), False),
        StructField("not_modified", BooleanType(), False),
        StructField("etag", StringType(), True),
        StructField("last_modified", StringType(), True),
        StructField("attempts", IntegerType(), False),
    ]
)


def http_get(
    url: str,
    user_agent: str,
    timeout_s: float,
    max_bytes: int,
    etag: str | None = None,
    last_modified: str | None = None,
    headers: dict[str, str] | None = None,
    force_body: bool = False,
) -> tuple[int, str, bytes | None, bool, str | None, str | None]:
    """One GET -> (status, content_type, body, truncated, etag,
    last_modified); raises only on network-level errors (the retry loop
    retries those).

    The body is read only for text/XML content types unless
    ``force_body`` (robots.txt, JSON APIs and feeds read it regardless of
    Content-Type). At most ``max_bytes + 1`` bytes are read: the body
    comes back clipped to ``max_bytes`` and ``truncated`` says the cap was
    hit. Non-2xx responses carry no body.

    Validators (RFC 9110 §13: ``If-None-Match`` wins over
    ``If-Modified-Since`` when both are sent): a 304 carries no body, and
    the response's validators are returned so the next cycle can
    revalidate; a 304 that omits them keeps the ones sent. Origins that
    emit none degrade to an unconditional refetch.

    Redirects are followed (urllib default) and links are later resolved
    against the ORIGINAL url — deliberately: the reference resolves
    against currentUrl (src/WebCrawler.js:514), not response.url, and
    crawl-order equality with it pins that choice."""
    hdrs = {"User-Agent": user_agent, **(headers or {})}
    if etag:
        hdrs["If-None-Match"] = etag
    if last_modified:
        hdrs["If-Modified-Since"] = last_modified
    req = urllib.request.Request(url, headers=hdrs)
    try:
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            ctype = resp.headers.get("Content-Type", "") or ""
            body, truncated = None, False
            if force_body or "text/" in ctype or "xml" in ctype:
                raw = resp.read(max_bytes + 1)
                truncated = len(raw) > max_bytes
                body = raw[:max_bytes]
            return (
                resp.status, ctype, body, truncated,
                resp.headers.get("ETag"), resp.headers.get("Last-Modified"),
            )
    except urllib.error.HTTPError as e:  # non-2xx WITH a status code
        nm = e.code == 304
        return (
            e.code,
            e.headers.get("Content-Type", "") or "",
            None,
            False,
            e.headers.get("ETag") or (etag if nm else None),
            e.headers.get("Last-Modified") or (last_modified if nm else None),
        )


_NETWORK_ERROR = (503, None, None, False, None, None)


def paced_get(
    user_agent: str = DEFAULT_UA,
    timeout_s: float = 10.0,
    max_bytes: int = DEFAULT_MAX_BYTES,
    max_retries: int = 3,
    base_backoff_s: float = 1.0,
    min_interval_ms: int = 0,
    force_body: bool = False,
):
    """THE retry-and-pacing loop. Returns ``get(url, host=None,
    **request) -> (http_get result, attempts)``; ``request`` is passed to
    :func:`http_get` (validators, headers).

    Each attempt first waits until ``min_interval_ms`` has passed since
    the last request to ``host`` (default: the url's netloc), then GETs.
    A RETRYABLE status or a network error is retried up to
    ``max_retries`` times, sleeping ``base_backoff_s * 2**(attempt-1)``
    between attempts; a network error that outlives them reads as 503.
    The pacing state lives in the returned function, so build one per
    worker partition."""
    last_request: dict[str, float] = {}

    def get(url: str, host: str | None = None, **request):
        host = host or urlsplit(url).netloc
        attempts = 0
        while True:
            if min_interval_ms > 0:
                since = time.monotonic() - last_request.get(host, 0.0)
                wait = min_interval_ms / 1000.0 - since
                if wait > 0:
                    time.sleep(wait)
            last_request[host] = time.monotonic()
            attempts += 1
            try:
                result = http_get(url, user_agent, timeout_s, max_bytes,
                                  force_body=force_body, **request)
            except Exception:  # network error: retry like a 5xx
                result = _NETWORK_ERROR
            if result[0] not in RETRYABLE or attempts > max_retries:
                return result, attempts
            time.sleep(base_backoff_s * (2 ** (attempts - 1)))

    return get


def make_fetch_udf(
    schema: StructType,
    user_agent: str = DEFAULT_UA,
    timeout_s: float = 10.0,
    max_retries: int = 3,
    base_backoff_s: float = 1.0,
    min_interval_ms: int = 0,
    max_bytes: int = DEFAULT_MAX_BYTES,
):
    """mapInPandas function shared by the crawl fetch and the recrawl
    revalidation: input rows carry ``url`` and ``host`` and, for a
    revalidation, the stored ``etag``/``last_modified`` (null validators
    => a plain GET). Each row becomes one ``schema`` row: input columns
    pass through, the fetch fills the rest (the response's validators
    replace the stored ones). A 304 never retries."""
    names = schema.fieldNames()

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        get = paced_get(user_agent, timeout_s, max_bytes, max_retries,
                        base_backoff_s, min_interval_ms)
        for pdf in batches:
            out = {n: [] for n in names}
            for row in pdf.to_dict("records"):
                validators = {
                    k: row[k] for k in ("etag", "last_modified")
                    if isinstance(row.get(k), str)
                }
                (status, ctype, body, truncated, etag, lm), attempts = get(
                    row["url"], row.get("host"), **validators
                )
                row.update(
                    status_eff=status,
                    content_type=ctype,
                    html=None if body is None else body.decode("utf-8", "replace"),
                    truncated=truncated,
                    not_modified=status == 304,
                    etag=etag,
                    last_modified=lm,
                    attempts=attempts,
                )
                for n in names:
                    out[n].append(row[n])
            yield pd.DataFrame(out)

    return fetch


def http_fetch_stage(batch: DataFrame, n_partitions: int, **udf_kwargs) -> DataFrame:
    """Partition the frontier batch by host (pacing-exact) and fetch."""
    return batch.select(
        "url", "host", "depth", "frontier_offset", "parent_rank"
    ).repartition(n_partitions, "host").mapInPandas(
        make_fetch_udf(FETCH_OUT, **udf_kwargs), FETCH_OUT
    )


def revalidate_stage(batch: DataFrame, n_partitions: int, **udf_kwargs) -> DataFrame:
    """Partition the revalidation batch by host (pacing-exact) and fetch
    conditionally. ``batch`` carries (url, host, etag, last_modified) —
    the validators the previous cycle stored; null validators degrade to
    a plain GET that captures them for next time."""
    return batch.select(
        "url", "host", "etag", "last_modified"
    ).repartition(n_partitions, "host").mapInPandas(
        make_fetch_udf(REVALIDATE_OUT, **udf_kwargs), REVALIDATE_OUT
    )


def fetch_robots_df(
    spark,
    origins: list[str],
    user_agent: str = DEFAULT_UA,
    timeout_s: float = 10.0,
) -> DataFrame:
    """(host, exists, disallow_prefixes, crawl_delay_ms) per origin.
    ``origins`` are 'scheme://host[:port]' strings; missing or erroring
    robots.txt => allow-all (exists=False), reference src/RobotsParser.js:55-63.
    Distributed as a tiny mapInPandas stage (at web scale this is
    one-request-per-host, embarrassingly parallel)."""
    from inform_spark.schemas import ROBOTS

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from inform_spark.functions.robots import parse_robots_txt

        for pdf in batches:
            rows = {"host": [], "exists": [], "disallow_prefixes": [],
                    "crawl_delay_ms": []}
            for origin in pdf["origin"]:
                host = urlsplit(origin).netloc.lower()
                try:
                    # force_body: robots.txt with a missing/odd
                    # Content-Type is still robots.txt (the reference reads
                    # response.text() unconditionally, src/RobotsParser.js:48);
                    # 2xx (not just 200) matches its response.ok gate; a file
                    # over 1 MB is parsed clipped
                    status, _, body, _, _, _ = http_get(
                        origin.rstrip("/") + "/robots.txt",
                        user_agent, timeout_s, 1024 * 1024, force_body=True,
                    )
                    if 200 <= status < 300 and body:
                        rules = parse_robots_txt(
                            body.decode("utf-8", "replace"), user_agent
                        )
                        rows["host"].append(host)
                        rows["exists"].append(True)
                        rows["disallow_prefixes"].append(rules.disallowed_paths)
                        rows["crawl_delay_ms"].append(rules.crawl_delay_ms)
                        continue
                except Exception:
                    pass
                rows["host"].append(host)
                rows["exists"].append(False)
                rows["disallow_prefixes"].append([])
                rows["crawl_delay_ms"].append(None)
            yield pd.DataFrame(rows)

    origins_df = spark.createDataFrame([(o,) for o in origins], "origin string")
    return origins_df.repartition(max(1, min(len(origins), 32))).mapInPandas(
        fetch, ROBOTS
    )


def merge_revalidated(prior: DataFrame, fetched: DataFrame) -> DataFrame:
    """Fold a revalidation cycle into the document snapshot: 304 rows
    reuse the prior body byte-for-byte (zero transfer, zero re-render);
    200 rows take the new body + validators; errors keep the prior body
    but surface the status. Pure DataFrame op (one equi-join on url) so
    the recrawl loop's merge is engine-agnostic and testable offline.

    ``prior``: (url, html, etag, last_modified); ``fetched``:
    REVALIDATE_OUT rows. Output: (url, status_eff, html, etag,
    last_modified, refetched) where refetched marks rows whose content
    actually moved — the ONLY rows a downstream re-render/re-chunk
    pipeline (operators/recrawl.recrawl_delta_cost) needs to touch."""
    p = prior.select(
        "url",
        F.col("html").alias("__ph"),
        F.col("etag").alias("__pe"),
        F.col("last_modified").alias("__pl"),
    )
    j = fetched.join(p, "url", "left")
    fresh = (F.col("status_eff") == 200) & ~F.col("not_modified")
    return j.select(
        "url",
        "status_eff",
        F.when(fresh, F.col("html")).otherwise(F.col("__ph")).alias("html"),
        F.when(fresh, F.col("etag")).otherwise(
            F.coalesce("etag", "__pe")
        ).alias("etag"),
        F.when(fresh, F.col("last_modified")).otherwise(
            F.coalesce("last_modified", "__pl")
        ).alias("last_modified"),
        fresh.alias("refetched"),
    )
