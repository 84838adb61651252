"""Seeded inputs for the benchmark workloads.

Every generator here is a pure function of the workload seed. The
program under test only ever sees the generated inputs: the web fixture
(pages and robots dimensions), the text micro-batch files and the image
micro-batch files.

Seeds shift *which* hosts, words and images appear, never *how much*
work a batch does: host indices move in steps of 60 (the period of the
fixture's robots rules, ``h % 3``, ``h % 4`` and ``h % 5``), so every seed
sees the same robots mix and crawl delays.
"""

from __future__ import annotations

import os
import random
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the robots fixture (sources.pages.generate_robots) repeats with this period
ROBOTS_PERIOD = 60


def host_offset(seed: int) -> int:
    """First host index for a seed: a multiple of the robots period."""
    return ROBOTS_PERIOD * random.Random(seed).randrange(1, 1 << 20)


# ---------------------------------------------------------------------------
# web fixture
# ---------------------------------------------------------------------------


def pages_df(spark, first_host: int, n_hosts: int, pages_per_host: int,
             content_scale: int):
    """Distributed fixture generation over hosts ``first_host`` onwards
    (the package's ``pages_dataframe`` only covers hosts ``0..n-1``): one
    task generates one slice of hosts with
    ``sources.pages.generate_host_pages``, over the wide link graph (every
    section links all of its leaves)."""
    from inform_spark.sources.pages import PAGES_COLS, generate_host_pages

    schema = (
        "url string, host string, status_code int, content_type string, "
        "html string, retries_needed int"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for h in pdf["id"]:
                rows = generate_host_pages(
                    int(h), pages_per_host, None, content_scale
                )
                yield pd.DataFrame(rows, columns=PAGES_COLS)

    n_part = min(n_hosts, spark.sparkContext.defaultParallelism)
    return spark.range(
        first_host, first_host + n_hosts, numPartitions=n_part
    ).mapInPandas(gen, schema=schema)


def robots_df(spark, hosts: list[int]):
    from inform_spark.schemas import ROBOTS
    from inform_spark.sources.pages import generate_robots

    rows = [generate_robots(h) for h in hosts]
    return spark.createDataFrame(
        [
            (r["host"], r["exists"], r["disallow_prefixes"], r["crawl_delay_ms"])
            for r in rows
        ],
        schema=ROBOTS,
    )


# ---------------------------------------------------------------------------
# text micro-batches: planted near-duplicate families
# ---------------------------------------------------------------------------


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters) for _ in range(rng.randint(4, 9))))
    return sorted(out)


def _case_variant(rng: random.Random, words: list[str]) -> str:
    """Same words, a few capitalised: one text hash apart, identical
    shingles after the dedup operator's lower-casing (a sure near-dup)."""
    w = list(words)
    for i in rng.sample(range(len(w)), 3):
        w[i] = w[i].capitalize()
    return " ".join(w)


def text_batches(seed: int, n_batches: int, families_per_batch: int,
                 words_per_doc: int = 40):
    """Micro-batches of (doc_id, text) rows. Each batch opens
    ``families_per_batch`` new families (a multiple of 12 gives every
    batch the same mix); a family is a base text, case variants of it and
    exact copies. A third of the families send their last member in the
    next batch (the last batch's go to the first), so batches also meet
    members of families already in the accreting index, and every batch
    has the same size.

    Returns (batches, family_of, reference_docs) where ``family_of`` maps
    doc_id -> family id."""
    rng = random.Random(seed * 104729 + 3)
    vocab = _vocab(rng, 4000)
    family_of: dict[int, int] = {}
    batches: list[list[tuple[int, str]]] = [[] for _ in range(n_batches)]
    next_id = 1 + (seed % 1000) * 1_000_000
    fam = 0
    for b in range(n_batches):
        for _ in range(families_per_batch):
            words = [rng.choice(vocab) for _ in range(words_per_doc)]
            members = [" ".join(words)]
            kind = fam % 4  # 0 singleton, 1 variants, 2 copies, 3 both
            if kind in (1, 3):
                members += [_case_variant(rng, words) for _ in range(2)]
            if kind in (2, 3):
                members.append(members[0])
            late = fam % 3 == 0 and len(members) > 1
            for i, t in enumerate(members):
                target = (b + 1) % n_batches if late and i == len(members) - 1 else b
                batches[target].append((next_id, t))
                family_of[next_id] = fam
                next_id += 1
            fam += 1
    for rows in batches:
        rng.shuffle(rows)
    reference = [
        (i, " ".join(rng.choice(vocab) for _ in range(words_per_doc)))
        for i in range(200)
    ]
    return batches, family_of, reference


# ---------------------------------------------------------------------------
# image micro-batches: planted hamming-1 phash groups, real PNG/GIF bytes
# ---------------------------------------------------------------------------

IMG_SIDE = 32  # 8x8 phash grid of 4x4-pixel cells
PHASH_BITS = 63  # codecs.average_phash masks bit 63


def _pattern_image(bits: int, rng: random.Random) -> np.ndarray:
    """(32, 32) uint8 gray image whose average phash is ``bits``: bright
    cells for set bits, dark cells otherwise, plus pixel noise far too
    small to move a cell across the mean."""
    cell = IMG_SIDE // 8
    grid = np.array(
        [[200 if bits >> (8 * i + j) & 1 else 50 for j in range(8)]
         for i in range(8)],
        dtype=np.int16,
    )
    img = np.kron(grid, np.ones((cell, cell), dtype=np.int16))
    noise = np.array(
        [rng.randint(-20, 20) for _ in range(IMG_SIDE * IMG_SIDE)],
        dtype=np.int16,
    ).reshape(IMG_SIDE, IMG_SIDE)
    return np.clip(img + noise, 0, 255).astype(np.uint8)


def encode_gif(gray: np.ndarray) -> bytes:
    """Minimal GIF89a writer for an (h, w) uint8 gray image: a 256-entry
    gray global palette and 'uncompressed' LZW — one 9-bit code per pixel
    with a clear code before the dictionary would widen the codes."""
    h, w = gray.shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 8 bpp, 256 colors
    out += bytes(v for i in range(256) for v in (i, i, i))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    clear, end = 256, 257
    codes = []
    for k, px in enumerate(gray.ravel().tolist()):
        if k % 250 == 0:
            codes.append(clear)
        codes.append(px)
    codes.append(end)
    acc = nbits = 0
    data = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += 9
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    out.append(8)  # LZW minimum code size
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def _spread_patterns(rng: random.Random, n: int, min_dist: int = 12) -> list[int]:
    """n random 63-bit phash patterns, pairwise at least ``min_dist``
    bits apart, so a family's hamming-1 members never reach another's."""
    out: list[int] = []
    while len(out) < n:
        p = rng.getrandbits(PHASH_BITS)
        if all(bin(p ^ q).count("1") >= min_dist for q in out):
            out.append(p)
    return out


def image_batches(seed: int, n_batches: int, families_per_batch: int):
    """Micro-batches of MEDIA rows (PNG and GIF bytes). A family is a
    base pattern plus members one phash bit away from it (each a
    different bit, so members are within 2 bits of each other) and,
    for some families, the same pixels in the other format. As in
    :func:`text_batches`, a third of the families send their last member
    to the next batch, cyclically.

    Returns (batches, family_of) with ``family_of`` media_ref -> family."""
    from inform_spark.operators.codecs import encode_png

    rng = random.Random(seed * 15485863 + 5)
    n_fam = n_batches * families_per_batch
    patterns = _spread_patterns(rng, n_fam)
    family_of: dict[str, int] = {}
    batches: list[list[tuple]] = [[] for _ in range(n_batches)]
    tag = f"{seed:x}"
    for fam, base in enumerate(patterns):
        b = fam // families_per_batch
        kind = fam % 4  # 0 singleton, 1 near-dups, 2 format copy, 3 both
        variants = [base]
        if kind in (1, 3):
            variants += [base ^ (1 << bit) for bit in rng.sample(range(PHASH_BITS), 2)]
        members = []
        for i, bits in enumerate(variants):
            img = _pattern_image(bits, rng)
            fmt = "png" if (fam + i) % 2 == 0 else "gif"
            members.append((img, fmt))
        if kind in (2, 3):
            img, fmt = members[0]
            members.append((img, "gif" if fmt == "png" else "png"))
        late = fam % 3 == 0 and len(members) > 1
        for i, (img, fmt) in enumerate(members):
            ref = f"https://img{tag}.test/f{fam}/m{i}.{fmt}"
            content = (
                encode_png(np.repeat(img[:, :, None], 3, axis=2))
                if fmt == "png"
                else encode_gif(img)
            )
            target = (b + 1) % n_batches if late and i == len(members) - 1 else b
            batches[target].append(
                (ref, f"doc-f{fam}", "image", content, len(content), fmt)
            )
            family_of[ref] = fam
    for rows in batches:
        rng.shuffle(rows)
    return batches, family_of


def write_batch_files(out_dir: str, batches: list[list[tuple]],
                      schema: pa.Schema) -> None:
    """One parquet file per micro-batch, written in-process with pyarrow
    (no Spark job). File names sort in batch order, which is the order a
    file stream source with ``maxFilesPerTrigger=1`` consumes them."""
    os.makedirs(out_dir, exist_ok=True)
    for i, rows in enumerate(batches):
        cols = list(zip(*rows))
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{i:05d}.parquet"))
