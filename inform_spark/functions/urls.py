"""URL canonicalization, base-path derivation and filepath generation.

Replicates the WHATWG ``new URL(href, base)`` semantics the reference relies
on (reference src/WebCrawler.js:514-519) closely enough for http(s) URLs:
relative resolution, dot-segment removal, fragment strip, lowercase
scheme/host, default-port strip, empty path -> '/'.

Pure-Python core functions are shared by (a) the vectorized pandas UDFs used
in the Spark data plane and (b) the plain-Python sequential oracle
(:mod:`inform_spark.reference_impl`) so crawl-equality tests compare the
*engine*, not two divergent URL parsers.
"""

from __future__ import annotations

from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_DEFAULT_PORTS = {"http": "80", "https": "443", "ws": "80", "wss": "443", "ftp": "21"}

# Binary/asset extensions skipped at discovery time
# (reference src/WebCrawler.js:595-600 — 27 extensions, lower-cased path).
SKIP_EXTENSIONS = (
    ".pdf", ".doc", ".docx", ".xls", ".xlsx", ".ppt", ".pptx",
    ".jpg", ".jpeg", ".png", ".gif", ".svg", ".webp",
    ".mp4", ".avi", ".mov", ".mp3", ".wav",
    ".zip", ".tar", ".gz", ".exe", ".dmg",
    ".css", ".js", ".xml", ".json",
)

# Single vectorized regex equivalent (used Spark-side via rlike so the filter
# stays inside whole-stage codegen instead of a UDF).
SKIP_EXTENSIONS_RLIKE = r"\.(pdf|docx?|xlsx?|pptx?|jpe?g|png|gif|svg|webp|mp4|avi|mov|mp3|wav|zip|tar|gz|exe|dmg|css|js|xml|json)$"


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments, on the PATH alone. This
    can't be delegated to urljoin: a path beginning '//' reads to the
    stdlib as a network-path reference (its own authority), which both
    mangles the host and SKIPS dot-segment removal — 'http://h//0/.'
    must canonicalize to 'http://h//0/', as WHATWG's new URL() does."""
    inp, out = path, []
    while inp:
        if inp.startswith("../"):
            inp = inp[3:]
        elif inp.startswith("./"):
            inp = inp[2:]
        elif inp.startswith("/./"):
            inp = "/" + inp[3:]
        elif inp == "/.":
            inp = "/"
        elif inp.startswith("/../"):
            inp = "/" + inp[4:]
            if out:
                out.pop()
        elif inp == "/..":
            inp = "/"
            if out:
                out.pop()
        elif inp in (".", ".."):
            inp = ""
        else:
            i = inp.find("/", 1)
            if i == -1:
                out.append(inp)
                inp = ""
            else:
                out.append(inp[:i])
                inp = inp[i:]
    return "".join(out)


def normalize_url(url: str) -> str:
    """Canonical absolute form: lowercase scheme+host, strip default port,
    strip fragment, empty path -> '/'. Mirrors `urlObj.hash=''; urlObj.href`
    (reference src/WebCrawler.js:517-519)."""
    scheme, netloc, path, query, _frag = urlsplit(url)
    scheme = scheme.lower()
    host, sep, port = netloc.rpartition(":")
    if sep and port.isdigit():
        if _DEFAULT_PORTS.get(scheme) == port:
            netloc = host
        else:
            netloc = host + ":" + port
    netloc = netloc.lower()
    if not path:
        path = "/"
    elif "/." in path:
        # RFC 3986 dot-segment removal, so a link like
        # http://h/docs/../admin dedups as its canonical form, can't
        # escape base-path scoping, and carries no '..' into generated
        # file paths. Gate is sound: an absolute path's '.'/'..'
        # segments always appear as a '/.' substring.
        path = _remove_dot_segments(path) or "/"
    return urlunsplit((scheme, netloc, path, query, ""))


def resolve_url(href: str, base: str) -> str | None:
    """``new URL(href, base).href`` with the fragment stripped; None when the
    result is not a usable absolute http(s) URL (reference swallows the
    TypeError at src/WebCrawler.js:569-571)."""
    try:
        # WHATWG treats backslashes as slashes in special-scheme URLs
        # (the reference's new URL() does this); Python's urljoin keeps
        # them literal, which would 404 every Windows-style href.
        # Only PATH-state backslashes flip: once the parser enters the
        # query ('?') or fragment ('#') state, '\' is preserved — so
        # /search?q=a\b keeps its backslash, matching new URL().
        s = href.strip()
        cut = min((i for i in (s.find("?"), s.find("#")) if i != -1), default=len(s))
        absolute = urljoin(base, s[:cut].replace("\\", "/") + s[cut:])
        scheme, netloc, _p, _q, _f = urlsplit(absolute)
        if scheme not in ("http", "https") or not netloc:
            return None
        return normalize_url(absolute)
    except ValueError:
        return None


def url_host(url: str) -> str:
    return urlsplit(url).netloc.lower()


def url_path(url: str) -> str:
    return urlsplit(url).path or "/"


def url_path_query(url: str) -> str:
    """Path + query as matched by robots rules
    (reference src/RobotsParser.js:142)."""
    parts = urlsplit(url)
    path = parts.path or "/"
    return path + ("?" + parts.query if parts.query else "")


def derive_base_path(seed_url: str) -> str:
    """Base-path scoping rules (reference src/WebCrawler.js:34-53):

    - trailing slash  -> that directory ('/docs/en/' -> '/docs/en')
    - 2+ segments, no slash -> parent dir ('/docs/en/sub-agents' -> '/docs/en')
    - 1 segment, no slash   -> kept as-is ('/docs' -> '/docs')
    - root -> '/'
    Golden-tested against reference tests/web-crawler.test.js:273-289.
    """
    base_path = urlsplit(seed_url).path
    if base_path.endswith("/"):
        base_path = base_path[:-1]
    else:
        segments = [s for s in base_path.split("/") if s]
        if len(segments) > 1:
            base_path = base_path[: base_path.rfind("/")]
    return base_path or "/"


def in_base_path(path: str, base_path: str) -> bool:
    """Reference src/WebCrawler.js:530-533."""
    if base_path == "/":
        return True
    return path == base_path or path.startswith(base_path + "/")


def should_skip_file(path: str) -> bool:
    """Extension skip on the lower-cased path
    (reference src/WebCrawler.js:536-537,595-600)."""
    p = path.lower()
    return p.endswith(SKIP_EXTENSIONS)


_ILLEGAL_FILENAME = r'[<>:"/\\|?*]'


def generate_filepath(url: str, raw: bool = False) -> str:
    """URL -> local file path / doc_id (reference src/WebCrawler.js:611-635).

    '/' -> index.md; trailing slash stripped; query '?a=1&b=2' -> '_a_1_b_2'
    suffix; illegal chars -> '_'; 200-char cap; extension by mode.
    Golden-tested against reference tests/web-crawler.test.js:75-90.
    """
    import re

    parts = urlsplit(url)
    path = parts.path
    ext = ".html" if raw else ".md"
    if path in ("/", ""):
        return "index" + ext
    path = path.rstrip("/") if path.endswith("/") else path
    # defense in depth: canonical urls carry no dot segments (normalize
    # removes them), but a doc_id must NEVER traverse out of the output
    # dir even if handed a raw url
    path_parts = [p for p in path.split("/") if p and p not in (".", "..")]
    if not path_parts:
        return "index" + ext
    filename = path_parts[-1]
    directory = "/".join(path_parts[:-1])
    if parts.query:
        params = parts.query.replace("&", "_").replace("=", "_")
        filename += "_" + params
    filename = re.sub(_ILLEGAL_FILENAME, "_", filename)[:200] + ext
    return f"{directory}/{filename}" if directory else filename


# ---------------------------------------------------------------------------
# Vectorized pandas UDFs (the Spark data plane; input_hint mandates
# pandas/Arrow batches, never per-row Python).
# ---------------------------------------------------------------------------


@pandas_udf(StringType())
def resolve_urls_udf(href: pd.Series, base: pd.Series) -> pd.Series:
    """Batch URL resolution: (href, base_url) -> canonical absolute or None."""
    return pd.Series(
        [resolve_url(h, b) if h is not None else None for h, b in zip(href, base)],
        dtype=object,
    )


@pandas_udf(StringType())
def normalize_urls_udf(url: pd.Series) -> pd.Series:
    return url.map(lambda u: normalize_url(u) if u is not None else None)


@pandas_udf(StringType())
def url_host_udf(url: pd.Series) -> pd.Series:
    return url.map(lambda u: url_host(u) if u is not None else None)


@pandas_udf(StringType())
def url_path_udf(url: pd.Series) -> pd.Series:
    return url.map(lambda u: url_path(u) if u is not None else None)
