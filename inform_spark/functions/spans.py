"""Interleaved text+media span model (the input_hint document shape).

A rendered markdown document is decomposed into an ordered span sequence:
media spans are the image references ``![alt](src)`` (the markdown the
reference's turndown emits for ``<img>``), text spans are the runs between
them. ``offset`` is the ordinal position. Invariants:

- ``spans_to_markdown(markdown_to_spans(md)) == md`` (byte equality)
- concatenating only the ``text``-kind spans in offset order byte-equals the
  markdown with media references removed (the "text stream")

Per-row invariant vs the reference: span-sequence equality on
``(kind, text, media_ref, order)``.
"""

from __future__ import annotations

import re

IMG_MD_RE = re.compile(r"!\[([^\]]*)\]\(([^)\s]*)\)")

KIND_TEXT = "text"
KIND_MEDIA = "media"


def markdown_to_spans(md: str) -> list[dict]:
    """Decompose markdown into interleaved text/media spans."""
    spans: list[dict] = []
    pos = 0
    offset = 0
    for m in IMG_MD_RE.finditer(md):
        if m.start() > pos:
            spans.append(
                {"kind": KIND_TEXT, "text": md[pos : m.start()], "media_ref": None, "offset": offset}
            )
            offset += 1
        spans.append(
            {"kind": KIND_MEDIA, "text": m.group(1), "media_ref": m.group(2), "offset": offset}
        )
        offset += 1
        pos = m.end()
    if pos < len(md):
        spans.append({"kind": KIND_TEXT, "text": md[pos:], "media_ref": None, "offset": offset})
    return spans


def spans_to_markdown(spans: list[dict]) -> str:
    """Reconstruct the exact markdown from a span sequence (offset order)."""
    parts = []
    for s in sorted(spans, key=lambda s: s["offset"]):
        if s["kind"] == KIND_MEDIA:
            parts.append(f"![{s['text'] or ''}]({s['media_ref'] or ''})")
        else:
            parts.append(s["text"] or "")
    return "".join(parts)


def text_stream(spans: list[dict]) -> str:
    """Concatenation of text-kind spans in offset order."""
    return "".join(
        s["text"] or ""
        for s in sorted(spans, key=lambda s: s["offset"])
        if s["kind"] == KIND_TEXT
    )
