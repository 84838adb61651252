"""Live GitHub contents-API source (S8): listing fetcher + big-file fetcher.

The reference recursively GETs the contents API one rate-limited request at
a time (src/GitCrawler.js:229-275; retry+pacing :144-193). Here each BFS
round of :class:`~inform_spark.plans.gitcrawl.GitCrawlEngine` hands the
whole directory level to a ``mapInPandas`` fetcher, so an org-scale mirror
lists a level of a million directories with full executor parallelism while
per-worker min-interval pacing still bounds the request rate against the
API host (A3/T4 semantics, src/GitCrawler.js:147-157). Requests, retries and
pacing go through :func:`~inform_spark.sources.httpfetch.paced_get`; a
listing or download body over its byte cap is a failure, never a clipped
parse or a clipped file.

Auth: ``token`` becomes the reference's Authorization header
(src/GitCrawler.js:40-43, ``GITHUB_TOKEN``). ``api_base`` is pluggable so
tests run against a loopback fixture API — no live network in-sandbox.

Output contract is the LISTING shape the engine's fixture tests use:
``(parent, name, type, size, content, download_url)`` — ``content`` is the
API's inline base64 for files <= 1 MB, larger files carry ``download_url``
and are filled by :func:`fetch_download_urls` after the walk (the
inline-vs-download branch, src/GitCrawler.js:298-325).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from inform_spark.functions.giturl import GitRepoInfo, github_api_url
from inform_spark.sources.httpfetch import DEFAULT_MAX_BYTES, DEFAULT_UA, paced_get

LISTING_SCHEMA = StructType(
    [
        StructField("parent", StringType(), False),
        StructField("name", StringType(), False),
        StructField("type", StringType(), False),
        StructField("size", LongType(), True),
        StructField("content", StringType(), True),
        StructField("download_url", StringType(), True),
        StructField("error", StringType(), True),
    ]
)


def _github_headers(token: str | None) -> dict[str, str]:
    """Reference getGitHubHeaders (src/GitCrawler.js:55-66); the
    User-Agent is added by :func:`~inform_spark.sources.httpfetch.http_get`."""
    headers = {"Accept": "application/vnd.github.v3+json"}
    if token:
        headers["Authorization"] = f"token {token}"
    return headers


def make_listing_fetcher(
    repo: GitRepoInfo,
    token: str | None = None,
    user_agent: str = DEFAULT_UA,
    timeout_s: float = 10.0,
    max_retries: int = 3,
    base_backoff_s: float = 1.0,
    min_interval_ms: int = 0,
):
    """Returns ``lister(dirs_df) -> listing_df`` for GitCrawlEngine's live
    mode: one contents-API GET per directory row, parsed into LISTING rows.
    A directory that 404s or errors emits one ``type='error'`` row (the
    engine surfaces it in the summary; reference throws and aborts,
    src/GitCrawler.js:236-241 — at fleet scale a poison dir must not kill
    the walk)."""
    headers = _github_headers(token)

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        get = paced_get(user_agent, timeout_s, DEFAULT_MAX_BYTES, max_retries,
                        base_backoff_s, min_interval_ms, force_body=True)
        cols = [f.name for f in LISTING_SCHEMA.fields]
        for pdf in batches:
            rows: list[dict] = []
            for d in pdf["dir"]:
                # github_api_url prefixes repo.subdirectory itself; the
                # frontier carries FULL repo paths, so strip the prefix back
                rel = d
                sub = repo.subdirectory
                if sub and (rel == sub or rel.startswith(sub + "/")):
                    rel = rel[len(sub):].lstrip("/")
                (status, _, body, truncated, _, _), _ = get(
                    github_api_url(repo, rel), headers=headers
                )
                error = None
                if status != 200:
                    error = f"HTTP {status}"
                elif truncated:
                    # a clipped JSON array would parse as a partial listing
                    error = f"listing over {DEFAULT_MAX_BYTES} bytes"
                else:
                    try:
                        contents = json.loads(body.decode("utf-8", "replace"))
                    except ValueError as e:
                        error = f"bad JSON: {e}"
                if error:
                    rows.append({
                        "parent": d, "name": "", "type": "error",
                        "size": None, "content": None, "download_url": None,
                        "error": error,
                    })
                    continue
                # single-file response (src/GitCrawler.js:246-252)
                if isinstance(contents, dict):
                    contents = [contents] if contents.get("type") == "file" else []
                for item in contents:
                    rows.append({
                        "parent": d,
                        "name": item.get("name") or "",
                        "type": item.get("type") or "",
                        "size": item.get("size"),
                        "content": item.get("content"),
                        "download_url": item.get("download_url"),
                        "error": None,
                    })
            yield pd.DataFrame(rows, columns=cols)

    def lister(dirs_df: DataFrame) -> DataFrame:
        return dirs_df.select("dir").mapInPandas(fetch, LISTING_SCHEMA)

    return lister


def fetch_download_urls(
    files_df: DataFrame,
    token: str | None = None,
    user_agent: str = DEFAULT_UA,
    timeout_s: float = 30.0,
    max_retries: int = 3,
    base_backoff_s: float = 1.0,
    min_interval_ms: int = 0,
    max_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """Fill ``text``/``data`` for non-inline files by fetching their
    ``download_url`` (src/GitCrawler.js:308-325). Distributed: each
    partition's worker streams its files; binary bytes stay in the binary
    column on the executor. Inline rows pass through untouched.

    The output schema is FILES plus a ``fetch_failed`` boolean: the
    reference tracks per-FILE download failures in ``crawler.failures``
    (src/GitCrawler.js:318-323) and gates the exit code on them
    (src/cli.js:229-231), so failures must survive the distributed fetch
    back to the driver as data, not logs."""
    from pyspark.sql.types import BooleanType, StructField

    from inform_spark.plans.gitcrawl import FILES

    out_schema = StructType(
        list(FILES.fields) + [StructField("fetch_failed", BooleanType(), False)]
    )
    headers = {"Authorization": f"token {token}"} if token else {}
    cols = [f.name for f in FILES.fields]

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        get = paced_get(user_agent, timeout_s, max_bytes, max_retries,
                        base_backoff_s, min_interval_ms, force_body=True)
        for pdf in batches:
            out = {c: [] for c in cols}
            out["fetch_failed"] = []
            for row in pdf.itertuples(index=False):
                text, data = row.text, row.data
                failed = False
                if not row.inline:
                    # listed but not inlined and no download URL: nothing
                    # fetchable — a failure, not an empty file; a body over
                    # max_bytes is a failure, not a clipped file
                    failed = True
                    if row.download_url:
                        (status, _, body, truncated, _, _), _ = get(
                            row.download_url, headers=headers
                        )
                        failed = status != 200 or truncated
                    if not failed:
                        if row.is_binary:
                            data = body
                        else:
                            text = body.decode("utf-8", "replace")
                for c in cols:
                    v = {"text": text, "data": data}.get(c, getattr(row, c))
                    out[c].append(v)
                out["fetch_failed"].append(failed)
            yield pd.DataFrame(out, columns=cols + ["fetch_failed"])

    return files_df.mapInPandas(fetch, out_schema)
