"""Pure-stdlib WebP-LOSSLESS (VP8L) decoder — RFC 9649 / the public
VP8L bitstream specification.

The last image-format stub with a tractable no-library decode path:
lossless WebP is Huffman + LZ77 + a color cache over ARGB pixels with
four optional reversible transforms. This module implements the full
still-image bitstream:

- RIFF/WEBP container walk (``VP8L`` chunk directly or inside a
  ``VP8X`` extended file); LOSSY ``VP8 `` raises ValueError — boolean
  arithmetic coding + loop filtering genuinely needs a codec library,
  and the dispatch in operators/multimodal.py routes it to the stub.
- LSB-first bit reader; 14-bit dimensions; version check.
- All four transforms, applied in reverse encode order: PREDICTOR (14
  spatial modes incl. Select and ClampAddSubtract, block-keyed by an
  entropy-coded sub-image), COLOR (cross-color multipliers, signed
  fixed-point), SUBTRACT_GREEN, COLOR_INDEXING (palette, incl. the
  sub-byte pixel-bundling repack for palettes <= 16 entries).
- Canonical prefix codes: "simple" (1-2 symbols) and full
  code-length-coded alphabets with the 16/17/18 repeat codes and the
  optional max_symbol cap; 5 codes per meta group (green+length+cache,
  red, blue, alpha, distance); optional meta-Huffman entropy image
  selecting the group per 2^b-pixel tile.
- LZ77 with the prefix-coded lengths/distances and the 120-entry 2D
  neighborhood distance mapping; optional color cache
  (0x1e35a7bd-multiplicative hash insert on EVERY emitted pixel).

Verification: hand-assembled bitstreams (tests/test_vp8l.py) cover
literal pixels, backrefs, the color cache, every transform, bundled
palettes, and the meta-group machinery — expected ARGB computed by
hand, never by a self-encoder. Termination on hostile bytes is
fuzz-smoked like the other codecs.

Perf note: the pixel loop is per-symbol Python, like the JPEG entropy
decode — fine for thumbnails/fixtures; production swaps libwebp into
the same one-function seam.
"""

from __future__ import annotations

import struct

import numpy as np

from inform_spark.operators.codecs import check_pixels

# order in which code-length-code lengths are transmitted (spec 5.2.2)
_CLC_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

_ALPHABET_SIZES = (280, 256, 256, 256, 40)  # green+len+cache?, r, b, a, dist

# distance mapping: the first 120 distance codes are a 2D neighborhood
# (dx in [-8, 7], dy in [0, 7]), closest first (spec 4.2.2)
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


def is_webp(b: bytes) -> bool:
    return len(b) > 16 and b[:4] == b"RIFF" and b[8:12] == b"WEBP"


class _Br:
    """LSB-first bit reader over the VP8L payload."""

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def read(self, k: int) -> int:
        while self.n < k:
            if self.pos >= len(self.d):
                raise ValueError("VP8L bitstream truncated")
            self.acc |= self.d[self.pos] << self.n
            self.pos += 1
            self.n += 8
        v = self.acc & ((1 << k) - 1)
        self.acc >>= k
        self.n -= k
        return v

    def bit(self) -> int:
        return self.read(1)


class _Prefix:
    """Canonical prefix code from symbol code lengths (spec 5.2.1);
    decode walks bit by bit through {(len, code): symbol}."""

    __slots__ = ("table", "single")

    def __init__(self, lengths: list[int]):
        nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if len(nz) == 1:
            self.single = nz[0][1]
            self.table = None
            return
        self.single = None
        # canonical assignment: shorter codes first, then symbol order
        self.table = {}
        code = 0
        prev_len = 0
        for l, s in sorted(nz):
            code <<= l - prev_len
            prev_len = l
            self.table[(l, code)] = s
            code += 1

    def decode(self, br: _Br) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for length in range(1, 16):
            code = (code << 1) | br.bit()
            sym = self.table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid VP8L prefix code")


def _simple_code(br: _Br) -> _Prefix:
    n = br.bit() + 1
    first_8 = br.bit()
    s0 = br.read(8 if first_8 else 1)
    lengths_of = {s0: 1}
    if n == 2:
        s1 = br.read(8)
        lengths_of = {s0: 1, s1: 1}
    size = max(lengths_of) + 1
    lengths = [lengths_of.get(i, 0) for i in range(size)]
    p = _Prefix(lengths)
    if n == 1:
        p.single = s0  # one symbol: zero bits consumed per decode
        p.table = None
    return p


def _read_code(br: _Br, alphabet_size: int) -> _Prefix:
    """One prefix code: simple form or code-length-coded (spec 5.2.2)."""
    if br.bit():
        return _simple_code(br)
    num_clc = 4 + br.read(4)
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _Prefix(clc_lengths)
    # optional cap on the number of coded symbols
    if br.bit():
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    i = 0
    while i < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        s = clc.decode(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            for _ in range(3 + br.read(2)):
                if i < alphabet_size:
                    lengths[i] = prev
                    i += 1
        elif s == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
    return _Prefix(lengths)


def _prefix_value(br: _Br, slot: int) -> int:
    """Length/distance prefix decode (spec 4.2.2): slot -> value."""
    if slot < 4:
        return slot + 1
    extra = (slot - 2) >> 1
    offset = (2 + (slot & 1)) << extra
    return offset + br.read(extra) + 1


def _read_groups(br: _Br, n_groups: int, cache_bits: int) -> list[list[_Prefix]]:
    groups = []
    for _ in range(n_groups):
        codes = []
        for ci, size in enumerate(_ALPHABET_SIZES):
            if ci == 0:
                size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
            codes.append(_read_code(br, size))
        groups.append(codes)
    return groups


def _decode_pixels(br: _Br, w: int, h: int, allow_meta: bool) -> np.ndarray:
    """Spatially-coded image (spec 4.3): returns (h, w) uint32 ARGB.
    ``allow_meta`` is False for transform/entropy sub-images (they never
    carry their own meta-Huffman or color cache per the spec structure
    used here: sub-images DO support a color cache flag — read it)."""
    # color cache (present for sub-images too)
    cache_bits = br.read(4) if br.bit() else 0
    if cache_bits > 11:
        raise ValueError(f"bad color cache bits {cache_bits}")
    cache = [0] * (1 << cache_bits) if cache_bits else None

    # meta-huffman (main image only)
    meta = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and br.bit():
        meta_bits = 3 + br.read(3)
        mw = -(-w // (1 << meta_bits))
        mh = -(-h // (1 << meta_bits))
        meta_img = _decode_pixels(br, mw, mh, allow_meta=False)
        # group index = (red << 8) | green
        meta = ((meta_img >> 8) & 0xFFFF).astype(np.int64)
        n_groups = int(meta.max()) + 1
    groups = _read_groups(br, n_groups, cache_bits)

    out = np.zeros(w * h, dtype=np.uint32)
    pos = 0
    total = w * h

    def insert(px: int) -> None:
        if cache is not None:
            cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px

    while pos < total:
        if meta is not None:
            x, y = pos % w, pos // w
            g = groups[int(meta[y >> meta_bits, x >> meta_bits])]
        else:
            g = groups[0]
        s = g[0].decode(br)
        if s < 256:
            red = g[1].decode(br)
            blue = g[2].decode(br)
            alpha = g[3].decode(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            insert(px)
            pos += 1
        elif s < 256 + 24:
            length = _prefix_value(br, s - 256)
            dslot = g[4].decode(br)
            dcode = _prefix_value(br, dslot)
            if dcode <= 120:
                dx, dy = _DIST_MAP[dcode - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            else:
                dist = dcode - 120
            if dist > pos:
                raise ValueError("VP8L backref before image start")
            for _ in range(length):
                if pos >= total:
                    break
                px = int(out[pos - dist])
                out[pos] = px
                insert(px)
                pos += 1
        else:
            if cache is None:
                raise ValueError("cache symbol without color cache")
            idx = s - 256 - 24
            out[pos] = cache[idx]
            pos += 1
    return out.reshape(h, w)


def _avg2(a: int, b: int) -> int:
    # per-channel average of two ARGB pixels
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _sub_clamp(c: int) -> int:
    return 0 if c < 0 else (255 if c > 255 else c)


def _clamp_add_full(l: int, t: int, tl: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        c = _sub_clamp(
            ((l >> shift) & 0xFF) + ((t >> shift) & 0xFF) - ((tl >> shift) & 0xFF)
        )
        out |= c << shift
    return out


def _clamp_add_half(ave: int, tl: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        a = (ave >> shift) & 0xFF
        b = (tl >> shift) & 0xFF
        d = a - b
        # C-semantics truncating division (the spec pseudocode is C)
        half = d // 2 if d >= 0 else -((-d) // 2)
        c = _sub_clamp(a + half)
        out |= c << shift
    return out


def _select(l: int, t: int, tl: int) -> int:
    pl = pt = 0
    for shift in (24, 16, 8, 0):
        lc = (l >> shift) & 0xFF
        tc = (t >> shift) & 0xFF
        tlc = (tl >> shift) & 0xFF
        p = lc + tc - tlc
        pl += abs(p - lc)
        pt += abs(p - tc)
    return l if pl < pt else t


def _apply_predictor_inverse(img: np.ndarray, modes: np.ndarray, bits: int) -> None:
    h, w = img.shape
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(img[0, x - 1])  # forced L on row 0
            elif x == 0:
                pred = int(img[y - 1, 0])  # forced T on column 0
            else:
                m = int(modes[y >> bits, x >> bits]) >> 8 & 0xFF
                l = int(img[y, x - 1])
                t = int(img[y - 1, x])
                tl = int(img[y - 1, x - 1])
                # top-right for the last column wraps to the CURRENT
                # row's first pixel (the contiguous-buffer behavior the
                # format is defined against; it is already reconstructed)
                tr = int(img[y - 1, x + 1]) if x + 1 < w else int(img[y, 0])
                if m == 0:
                    pred = 0xFF000000
                elif m == 1:
                    pred = l
                elif m == 2:
                    pred = t
                elif m == 3:
                    pred = tr
                elif m == 4:
                    pred = tl
                elif m == 5:
                    pred = _avg2(_avg2(l, tr), t)
                elif m == 6:
                    pred = _avg2(l, tl)
                elif m == 7:
                    pred = _avg2(l, t)
                elif m == 8:
                    pred = _avg2(tl, t)
                elif m == 9:
                    pred = _avg2(t, tr)
                elif m == 10:
                    pred = _avg2(_avg2(l, tl), _avg2(t, tr))
                elif m == 11:
                    pred = _select(l, t, tl)
                elif m == 12:
                    pred = _clamp_add_full(l, t, tl)
                elif m == 13:
                    pred = _clamp_add_half(_avg2(l, t), tl)
                else:
                    raise ValueError(f"bad predictor mode {m}")
            img[y, x] = _pixel_add(int(img[y, x]), pred)


def _pixel_add(a: int, b: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        out |= (((a >> shift) + (b >> shift)) & 0xFF) << shift
    return out


def _ctd(t: int, c: int) -> int:
    """ColorTransformDelta: (int8)t * (int8)c >> 5 (spec 4.2.1.2)."""
    t8 = t - 256 if t >= 128 else t
    c8 = c - 256 if c >= 128 else c
    return (t8 * c8) >> 5


def _apply_color_inverse(img: np.ndarray, data: np.ndarray, bits: int) -> None:
    h, w = img.shape
    for y in range(h):
        for x in range(w):
            m = int(data[y >> bits, x >> bits])
            g2r = m & 0xFF  # blue channel of the transform pixel
            g2b = (m >> 8) & 0xFF  # green channel
            r2b = (m >> 16) & 0xFF  # red channel
            px = int(img[y, x])
            a = (px >> 24) & 0xFF
            r = (px >> 16) & 0xFF
            g = (px >> 8) & 0xFF
            b = px & 0xFF
            r = (r + _ctd(g2r, g)) & 0xFF
            b = (b + _ctd(g2b, g) + _ctd(r2b, r)) & 0xFF
            img[y, x] = (a << 24) | (r << 16) | (g << 8) | b


def decode_vp8l(payload: bytes) -> np.ndarray:
    """VP8L chunk payload -> (h, w, 4) uint8 RGBA."""
    br = _Br(payload)
    if br.read(8) != 0x2F:
        raise ValueError("bad VP8L signature")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.bit()  # alpha-used hint
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")
    check_pixels(w, h)

    transforms = []  # applied in reverse order after pixel decode
    xsize = w
    seen = set()
    while br.bit():
        t = br.read(2)
        if t in seen:
            raise ValueError(f"duplicate VP8L transform {t}")
        seen.add(t)
        if t == 0:  # PREDICTOR
            bits = 2 + br.read(3)
            bw = -(-xsize // (1 << bits))
            bh = -(-h // (1 << bits))
            data = _decode_pixels(br, bw, bh, allow_meta=False)
            transforms.append(("pred", bits, data))
        elif t == 1:  # COLOR
            bits = 2 + br.read(3)
            bw = -(-xsize // (1 << bits))
            bh = -(-h // (1 << bits))
            data = _decode_pixels(br, bw, bh, allow_meta=False)
            transforms.append(("color", bits, data))
        elif t == 2:  # SUBTRACT_GREEN
            transforms.append(("subg", 0, None))
        else:  # COLOR_INDEXING
            n_colors = br.read(8) + 1
            pal = _decode_pixels(br, n_colors, 1, allow_meta=False)[0]
            # palette entries are delta-coded component-wise
            for i in range(1, n_colors):
                pal[i] = _pixel_add(int(pal[i]), int(pal[i - 1]))
            if n_colors <= 2:
                pbits = 3
            elif n_colors <= 4:
                pbits = 2
            elif n_colors <= 16:
                pbits = 1
            else:
                pbits = 0
            transforms.append(("palette", pbits, pal))
            if pbits:
                xsize = -(-xsize // (1 << pbits))

    img = _decode_pixels(br, xsize, h, allow_meta=True)

    for kind, bits, data in reversed(transforms):
        if kind == "palette":
            if bits:
                # unbundle: each coded pixel's GREEN packs 2^bits indices
                per = 1 << bits
                ibits = 8 >> bits
                mask = (1 << ibits) - 1
                full = np.zeros((h, w), dtype=np.uint32)
                for y in range(h):
                    for x in range(w):
                        packed = int(img[y, x // per]) >> 8 & 0xFF
                        idx = (packed >> ((x % per) * ibits)) & mask
                        if idx >= len(data):
                            raise ValueError("palette index out of range")
                        full[y, x] = data[idx]
                img = full
            else:
                flat = (img >> 8 & 0xFF).astype(np.int64)
                if int(flat.max()) >= len(data):
                    raise ValueError("palette index out of range")
                img = data[flat].astype(np.uint32)
        elif kind == "subg":
            g = (img >> 8) & 0xFF
            r = (((img >> 16) & 0xFF) + g) & 0xFF
            b = ((img & 0xFF) + g) & 0xFF
            img = (img & 0xFF00FF00) | (r << 16) | b
        elif kind == "color":
            _apply_color_inverse(img, data, bits)
        elif kind == "pred":
            _apply_predictor_inverse(img, data, bits)

    out = np.zeros((h, w, 4), dtype=np.uint8)
    out[:, :, 0] = (img >> 16) & 0xFF  # R
    out[:, :, 1] = (img >> 8) & 0xFF  # G
    out[:, :, 2] = img & 0xFF  # B
    out[:, :, 3] = (img >> 24) & 0xFF  # A
    return out


def decode_webp(b: bytes) -> np.ndarray:
    """WebP container -> (h, w, 4) uint8 RGBA for LOSSLESS files.
    Lossy (``VP8 ``) and animation frames raise ValueError — the
    dispatch routes them to the stub verdict."""
    if not is_webp(b):
        raise ValueError("not a WebP")
    pos = 12
    while pos + 8 <= len(b):
        fourcc, size = struct.unpack("<4sI", b[pos : pos + 8])
        payload = b[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8L":
            return decode_vp8l(payload)
        if fourcc == b"VP8 ":
            raise ValueError(
                "lossy WebP (VP8) requires a codec library; baseline "
                "lossless (VP8L) only"
            )
        pos += 8 + size + (size & 1)
    raise ValueError("no VP8L chunk in WebP")
