"""The package's one HTTP client (sources/httpfetch) outside the crawl
path: git listing retries, per-host pacing, and byte caps on git downloads,
git listings and feed bodies, against a loopback fixture server. Also
guards that no other module speaks HTTP. No external network."""

import ast
import json
import pathlib
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import urlsplit

import pytest

from inform_spark.functions.giturl import GitRepoInfo

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "inform_spark"

SMALL_LISTING = json.dumps([{"name": "a.md", "type": "file"}]).encode()
BIG_LISTING = json.dumps(
    [{"name": f"file{i}.md", "type": "file"} for i in range(20)]
).encode()
SMALL_RSS = (
    b'<?xml version="1.0"?><rss version="2.0"><channel>'
    b"<item><title>Small</title><guid>s1</guid></item></channel></rss>"
)
BIG_RSS = SMALL_RSS.replace(
    b"</title>", b"</title><description>" + b"x" * 2000 + b"</description>"
)


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def _send(self, body: bytes, ctype: str, status: int = 200):
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        path = urlsplit(self.path).path
        srv = self.server
        srv.arrivals.append((path, time.monotonic()))
        srv.hits[path] = srv.hits.get(path, 0) + 1
        if path == "/repos/o/r/contents/flaky" and srv.hits[path] == 1:
            self._send(b"", "application/json", 503)
        elif path in ("/repos/o/r/contents/flaky",
                      "/repos/o/r/contents/small") or path.startswith(
                "/repos/o/r/contents/paced"):
            self._send(SMALL_LISTING, "application/json")
        elif path == "/repos/o/r/contents/big":
            self._send(BIG_LISTING, "application/json")
        elif path == "/raw/big.bin":
            self._send(b"\x00" * 100, "application/octet-stream")
        elif path == "/raw/small.md":
            self._send(b"tiny", "text/plain")
        elif path == "/feed.xml":
            self._send(SMALL_RSS, "application/rss+xml")
        elif path == "/feed-big.xml":
            self._send(BIG_RSS, "application/rss+xml")
        else:
            self._send(b"", "text/plain", 404)


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    srv.arrivals = []
    srv.hits = {}
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()


def _origin(srv):
    return f"http://127.0.0.1:{srv.server_address[1]}"


def _repo(srv):
    return GitRepoInfo(host="github.com", owner="o", repo="r",
                       api_url=_origin(srv))


def _dirs(spark, names):
    # one partition: one worker, so its pacing state sees every request
    return spark.createDataFrame([(n,) for n in names], "dir string").coalesce(1)


class _UrlopenRefs(ast.NodeVisitor):
    """(innermost enclosing function or '<module>') of every reference to
    ``urlopen``: a call, an attribute, a bare name or an import alias."""

    def __init__(self):
        self.scope, self.found = ["<module>"], set()

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def _ref(self, name, node):
        if name == "urlopen":
            self.found.add(self.scope[-1])
        self.generic_visit(node)

    def visit_Attribute(self, node):
        self._ref(node.attr, node)

    def visit_Name(self, node):
        self._ref(node.id, node)

    def visit_alias(self, node):
        self._ref(node.name.rsplit(".", 1)[-1], node)


def test_only_httpfetch_calls_urlopen():
    """One owner for HTTP: every reference to ``urlopen`` in the package
    sits inside ``sources/httpfetch.py::http_get``."""
    owners = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        refs = _UrlopenRefs()
        refs.visit(ast.parse(path.read_text(), filename=str(path)))
        rel = path.relative_to(PACKAGE).as_posix()
        owners |= {(rel, scope) for scope in refs.found}
    assert owners == {("sources/httpfetch.py", "http_get")}


def test_git_lister_retries_503_then_succeeds(spark, server):
    from inform_spark.sources.githubapi import make_listing_fetcher

    lister = make_listing_fetcher(_repo(server), base_backoff_s=0.01)
    rows = lister(_dirs(spark, ["flaky"])).collect()
    assert [(r["name"], r["type"], r["error"]) for r in rows] == [
        ("a.md", "file", None)
    ]
    assert server.hits["/repos/o/r/contents/flaky"] == 2


def test_git_lister_paces_requests_to_one_host(spark, server):
    from inform_spark.sources.githubapi import make_listing_fetcher

    names = [f"paced{i}" for i in range(4)]
    lister = make_listing_fetcher(_repo(server), min_interval_ms=150)
    rows = lister(_dirs(spark, names)).collect()
    assert sorted(r["parent"] for r in rows) == names
    times = sorted(
        t for p, t in server.arrivals
        if p.startswith("/repos/o/r/contents/paced")
    )
    assert len(times) == 4
    gaps = [b - a for a, b in zip(times, times[1:])]
    # the client stamps a request when it starts sending it, so an arrival
    # gap can fall short of the interval by the difference between two
    # loopback latencies (tens of microseconds); unpaced gaps are ~1 ms
    assert min(gaps) >= 0.150 - 0.005, gaps


def test_git_download_over_cap_fails(spark, server):
    """A download over ``max_bytes`` is a failed file (it shows in the
    exit code), not a clipped file written as a success."""
    from inform_spark.plans.gitcrawl import FILES
    from inform_spark.sources.githubapi import fetch_download_urls

    origin = _origin(server)
    files = spark.createDataFrame(
        [
            ("big.bin", "out/big.bin", 100, True, False, None, None,
             origin + "/raw/big.bin", 0),
            ("small.md", "out/small.md", 4, False, False, None, None,
             origin + "/raw/small.md", 0),
        ],
        FILES,
    )
    out = {r["repo_path"]: r
           for r in fetch_download_urls(files, max_bytes=16).collect()}
    assert out["big.bin"]["fetch_failed"] and out["big.bin"]["data"] is None
    assert not out["small.md"]["fetch_failed"]
    assert out["small.md"]["text"] == "tiny"


def test_git_listing_over_cap_is_error_row(spark, server, monkeypatch):
    from inform_spark.sources import githubapi

    monkeypatch.setattr(githubapi, "DEFAULT_MAX_BYTES", len(SMALL_LISTING))
    lister = githubapi.make_listing_fetcher(_repo(server))
    rows = lister(_dirs(spark, ["big", "small"])).collect()
    by_dir = {r["parent"]: r for r in rows}
    assert len(rows) == 2
    big = by_dir["big"]
    assert big["type"] == "error"
    assert big["error"] == f"listing over {len(SMALL_LISTING)} bytes"
    assert by_dir["small"]["name"] == "a.md" and by_dir["small"]["error"] is None


def test_feed_body_over_cap_is_error_row(spark, server, monkeypatch):
    from inform_spark.sources import feeds

    monkeypatch.setattr(feeds, "DEFAULT_MAX_BYTES", len(SMALL_RSS))
    origin = _origin(server)
    df = spark.createDataFrame(
        [(origin + "/feed-big.xml", "rss"), (origin + "/feed.xml", "rss")],
        "input_url string, kind string",
    )
    out = {r["feed_url"]: r for r in feeds.fetch_feed_bodies(df).collect()}
    big = out[origin + "/feed-big.xml"]
    assert big["body"] is None
    assert f"body over {len(SMALL_RSS)} bytes" in big["error"]
    small = out[origin + "/feed.xml"]
    assert small["error"] is None and small["body"] == SMALL_RSS.decode()
