"""Scalar text helpers (reference src/sources/util.js) — pure-Python cores
used inside pandas UDF batches; where a Spark built-in exists (sha1, lower,
regexp_replace) the data plane uses the built-in instead.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

_QUOTES_RE = re.compile(r"['\"]")
_NON_ALNUM_RE = re.compile(r"[^a-z0-9]+")
_DASHES_RE = re.compile(r"-+")
_EDGE_DASH_RE = re.compile(r"^-|-$")
_ILLEGAL_FILE_RE = re.compile(r'[<>:"/\\|?*\x00-\x1F]')


def slugify(s: str) -> str:
    """Reference src/sources/util.js:18-26."""
    s = s.lower()
    s = _QUOTES_RE.sub("", s)
    s = _NON_ALNUM_RE.sub("-", s)
    s = _DASHES_RE.sub("-", s)
    s = _EDGE_DASH_RE.sub("", s)
    return s[:120] or "item"


def sanitize_filename(name: str) -> str:
    """Reference src/sources/util.js:76-78."""
    return _ILLEGAL_FILE_RE.sub("_", name)[:180]


def to_iso_date(d: str | None) -> str | None:
    """Reference src/sources/util.js:42-46: parseable -> ISO-8601, else None.
    (Spark-side: to_timestamp with null-on-fail.)"""
    if not d:
        return None
    for parser in (_parse_iso, _parse_rfc2822):
        dt = parser(d)
        if dt is not None:
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            return (
                dt.astimezone(timezone.utc)
                .isoformat(timespec="milliseconds")
                .replace("+00:00", "Z")
            )
    return None


def _parse_iso(d: str) -> datetime | None:
    try:
        return datetime.fromisoformat(d.replace("Z", "+00:00"))
    except ValueError:
        return None


def _parse_rfc2822(d: str) -> datetime | None:
    from email.utils import parsedate_to_datetime

    try:
        return parsedate_to_datetime(d)
    except (TypeError, ValueError):
        return None
