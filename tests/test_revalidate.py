"""Conditional-GET revalidation (ETag / If-Modified-Since): the recrawl
fetch stage against a loopback origin that honors validators. RFC 9110
§13 semantics: If-None-Match takes precedence; 304 carries no body."""

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from inform_spark.sources.httpfetch import (
    http_get,
    merge_revalidated,
    revalidate_stage,
)

LM_V1 = "Mon, 01 Jan 2024 00:00:00 GMT"
LM_V2 = "Tue, 02 Jan 2024 00:00:00 GMT"


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_GET(self):
        srv = self.server
        srv.request_log.append(
            (self.path,
             self.headers.get("If-None-Match"),
             self.headers.get("If-Modified-Since"))
        )
        if self.path == "/doc":
            version = srv.doc_version
            etag = f'"v{version}"'
            lm = LM_V1 if version == 1 else LM_V2
            inm = self.headers.get("If-None-Match")
            ims = self.headers.get("If-Modified-Since")
            # RFC 9110 13.1: If-None-Match, when present, wins
            not_modified = (
                inm == etag if inm is not None else ims == lm
            )
            if not_modified:
                self.send_response(304)
                self.send_header("ETag", etag)
                self.send_header("Last-Modified", lm)
                self.end_headers()
                return
            body = (
                f"<html><body><main>doc version {version}</main>"
                "</body></html>"
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.send_header("ETag", etag)
            self.send_header("Last-Modified", lm)
        elif self.path == "/plain":
            # an origin that emits NO validators
            body = b"<html><body>no validators here</body></html>"
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
        else:
            self.send_response(404)
            self.send_header("Content-Type", "text/html")
            body = b"gone"
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture()
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    srv.request_log = []
    srv.doc_version = 1
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()


def _origin(srv):
    return f"http://127.0.0.1:{srv.server_address[1]}"


def test_first_cycle_captures_validators(server):
    st, ct, body, tr, etag, lm = http_get(
        _origin(server) + "/doc", "ua", 5, 1 << 20
    )
    assert st == 200 and b"doc version 1" in body
    assert etag == '"v1"' and lm == LM_V1


def test_matching_etag_revalidates_to_304_with_no_body(server):
    st, ct, body, tr, etag, lm = http_get(
        _origin(server) + "/doc", "ua", 5, 1 << 20, etag='"v1"'
    )
    assert st == 304 and body is None
    assert etag == '"v1"' and lm == LM_V1  # validators survive the 304


def test_if_none_match_takes_precedence_over_stale_date(server):
    # stale Last-Modified but CURRENT etag: RFC 9110 -> 304
    st, _, body, _, _, _ = http_get(
        _origin(server) + "/doc", "ua", 5, 1 << 20,
        etag='"v1"', last_modified="Thu, 01 Jan 1970 00:00:00 GMT",
    )
    assert st == 304 and body is None


def test_changed_content_refetches(server):
    server.doc_version = 2
    st, _, body, _, etag, lm = http_get(
        _origin(server) + "/doc", "ua", 5, 1 << 20,
        etag='"v1"', last_modified=LM_V1,
    )
    assert st == 200 and b"doc version 2" in body
    assert etag == '"v2"' and lm == LM_V2


def test_validatorless_origin_degrades_to_plain_get(server):
    st, _, body, _, etag, lm = http_get(
        _origin(server) + "/plain", "ua", 5, 1 << 20, etag='"whatever"'
    )
    assert st == 200 and b"no validators" in body
    assert etag is None and lm is None


def test_revalidate_stage_and_merge(spark, server):
    """Distributed two-cycle recrawl: cycle 1 unconditional (captures
    validators), cycle 2 conditional — unchanged doc comes back 304 and
    the merge reuses the prior body byte-for-byte."""
    origin = _origin(server)
    host = f"127.0.0.1:{server.server_address[1]}"
    c1_in = spark.createDataFrame(
        [(origin + "/doc", host, None, None),
         (origin + "/plain", host, None, None)],
        "url string, host string, etag string, last_modified string",
    )
    c1 = revalidate_stage(c1_in, 2, max_retries=0).cache()
    rows1 = {r["url"]: r for r in c1.collect()}
    assert not rows1[origin + "/doc"]["not_modified"]
    assert rows1[origin + "/doc"]["etag"] == '"v1"'

    prior = c1.select("url", "html", "etag", "last_modified")
    c2_in = prior.selectExpr(
        "url", f"'{host}' as host", "etag", "last_modified"
    )
    server.request_log.clear()
    merged = merge_revalidated(
        prior, revalidate_stage(c2_in, 2, max_retries=0)
    )
    out = {r["url"]: r for r in merged.collect()}
    doc = out[origin + "/doc"]
    assert not doc["refetched"]
    assert doc["html"] == rows1[origin + "/doc"]["html"]  # reused body
    assert doc["status_eff"] == 304 and doc["etag"] == '"v1"'
    # the validator-less origin refetched unconditionally
    plain = out[origin + "/plain"]
    assert plain["refetched"] and plain["status_eff"] == 200
    # the conditional request actually SENT the validator
    sent = [h for p, h, _ in server.request_log if p == "/doc"]
    assert sent == ['"v1"']


def test_full_recrawl_cycle_e2e(spark, server):
    """The composed recrawl loop end-to-end against the loopback origin:
    plain cycle -> bump one doc -> conditional cycle -> snapshot diff ->
    chunk-level delta costing -> adaptive schedule. Each stage's output
    feeds the next exactly as a production recrawl would wire them."""
    from pyspark.sql import functions as F

    from inform_spark.operators.recrawl import (
        change_history_stats,
        recrawl_delta_cost,
        recrawl_schedule,
        snapshot_diff,
    )

    origin = _origin(server)
    host = f"127.0.0.1:{server.server_address[1]}"
    urls = [origin + "/doc", origin + "/plain"]
    server.doc_version = 1

    c1_in = spark.createDataFrame(
        [(u, host, None, None) for u in urls],
        "url string, host string, etag string, last_modified string",
    )
    snap1 = (
        revalidate_stage(c1_in, 2, max_retries=0)
        .select("url", "html", "etag", "last_modified")
        .cache()
    )
    snap1.count()

    server.doc_version = 2  # /doc changes between cycles
    c2_in = snap1.selectExpr("url", f"'{host}' as host", "etag", "last_modified")
    snap2 = merge_revalidated(
        snap1, revalidate_stage(c2_in, 2, max_retries=0)
    ).cache()

    # 1) diff: only /doc changed
    diff = snapshot_diff(
        snap1.select("url", F.md5("html").alias("fingerprint")),
        snap2.select("url", F.md5("html").alias("fingerprint")),
    )
    got = {r["url"]: r["change"] for r in diff.collect()}
    assert got[origin + "/doc"] == "changed"
    assert got[origin + "/plain"] == "unchanged"
    # refetched mirrors the diff for the validator origin; the
    # validator-less origin refetched but its content didn't move
    refetched = {r["url"]: r["refetched"] for r in snap2.collect()}
    assert refetched[origin + "/doc"] is True

    # 2) chunk-level storage delta: only the changed doc costs tokens
    old_docs = snap1.select(
        F.abs(F.xxhash64("url")).alias("doc_id"), F.col("html").alias("text")
    )
    new_docs = snap2.select(
        F.abs(F.xxhash64("url")).alias("doc_id"), F.col("html").alias("text")
    )
    delta = {
        r["doc_id"]: r
        for r in recrawl_delta_cost(old_docs, new_docs, w=3, divisor=4).collect()
    }
    doc_key = old_docs.filter(
        F.col("text").contains("doc version")
    ).head()["doc_id"]
    assert delta[doc_key]["change"] == "changed"
    assert delta[doc_key]["delta_tokens"] > 0
    assert all(
        r["delta_tokens"] == 0
        for k, r in delta.items()
        if k != doc_key
    )

    # 3) adaptive schedule: the changing doc gets the shorter interval
    history = spark.createDataFrame(
        [(u, "2024-01-0%d 00:00:00" % d, u == origin + "/doc")
         for u in urls for d in (1, 2)],
        "url string, checked_at string, changed boolean",
    ).withColumn("checked_at", F.to_timestamp("checked_at"))
    sched = {
        r["url"]: r["interval_ms"]
        for r in recrawl_schedule(change_history_stats(history)).collect()
    }
    assert sched[origin + "/doc"] < sched[origin + "/plain"]
