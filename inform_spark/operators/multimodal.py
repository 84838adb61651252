"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The reference stores media only as markdown links (``![alt](src)`` spans,
media_ref in our span model — reference src/WebCrawler.js rendering path);
a 100 TB training-data pipeline additionally needs the *bytes*. This module
defines the Spark-side plumbing — schema, partitioning, Arrow batch shape,
``mapInPandas`` UDF signatures — as real, tested code. The decode path is
REAL for PNG, BMP, GIF, baseline and progressive JPEG, lossless WebP
(VP8L) and WAV-PCM via the pure-stdlib codecs in ``operators/codecs.py``
and ``operators/vp8l.py`` (spec-exact struct/zlib/Huffman parsing — no
PIL needed), and MP4 container METADATA parses for real
(``video_metadata`` over ``codecs.parse_mp4``); only the profiles that
genuinely require a codec library (lossy-VP8 WebP, arithmetic-coded
JPEG, video FRAME decode) stay behind ``decode_image_stub`` /
``sample_frames_stub``, deterministic fakes so every downstream shape is
still exercised end-to-end. Swapping PIL/ffmpeg in changes ONE function
each (`decode_image` / frame sampling), not the pipeline.

Design for scale:
- media rows are fat (binary column): process with ``mapInPandas`` so one
  task streams Arrow batches instead of collecting rows; batch size is
  bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``.
- partition by ``pmod(xxhash64(media_ref), N)`` — content-hash partitioning
  balances skew from hot documents.
- the image, audio and video feature stages share ONE row loop
  (``_map_rows``) that owns the repartition, the Arrow batch loop and
  the try/except turning any decode exception into NULL features plus
  an ``error`` status: untrusted bytes yield a verdict, never a failed
  task.
- metadata (width/height/format/...) lives in NARROW typed columns so
  filters like ``width >= 512`` prune without touching bytes (column
  pruning keeps the binary out of the scan unless selected).
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("doc_id", StringType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("content", BinaryType(), True),
        StructField("content_len", LongType(), False),
        StructField("format", StringType(), True),  # png/jpeg/wav/mp4/...
    ]
)

IMAGE_FEATURES = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("doc_id", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_luma", FloatType(), True),
        StructField("phash", LongType(), True),  # perceptual hash (8x8 DCT-free)
        StructField("decode_ok", StringType(), False),  # ok | stub | error
    ]
)

FRAME_SAMPLE = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("ts_ms", LongType(), False),
        StructField("frame", BinaryType(), True),
    ]
)


def synthesize_media(docs_with_media: DataFrame) -> DataFrame:
    """Deterministic fake media table from the media spans of a crawl
    (seeded by media_ref) — stands in for the fetch-bytes stage which the
    sandbox cannot perform. Pure column ops: the 'bytes' are a zlib-ish
    deterministic function of the ref string."""
    return docs_with_media.select(
        F.col("media_ref"),
        F.col("doc_id"),
        F.lit("image").alias("kind"),
        F.encode(
            F.concat(F.lit("FAKEPNG:"), F.col("media_ref")), "utf-8"
        ).cast("binary").alias("content"),
        F.length(F.col("media_ref")).cast("long").alias("content_len"),
        F.lower(F.regexp_extract("media_ref", r"\.(\w+)$", 1)).alias("format"),
    )


def decode_image(content: bytes | None, ref: str) -> tuple[dict, str]:
    """Decode dispatch: REAL stdlib decoders for PNG, BMP, GIF,
    baseline AND progressive JPEG, and LOSSLESS WebP
    (operators/codecs.py + operators/vp8l.py — spec-exact, no PIL),
    the deterministic stub for the remaining profiles (lossy-VP8
    WebP, arithmetic-coded JPEG, compressed video/audio frames —
    genuinely codec-library-bound, re-verified in BASELINE.md each
    round). Returns
    (features, mode) with mode one of 'ok' (real decode) / 'stub'.
    Raises for None content or corrupt bytes in a recognized
    container, like a real decoder would — EXCEPT a JPEG profile the
    decoder does not cover (arithmetic coding, hierarchical), which
    falls back to the stub rather than poisoning the batch: the
    container was recognized but the profile is out of scope, the
    same verdict any fixed-profile production decoder stage gives."""
    from inform_spark.operators import codecs
    from inform_spark.operators.vp8l import is_webp as _is_webp

    if content is None:
        raise ValueError(f"no content for {ref}")
    if codecs.is_png(content) or codecs.is_bmp(content):
        arr = (
            codecs.decode_png(content)
            if codecs.is_png(content)
            else codecs.decode_bmp(content)
        )
    elif codecs.is_jpeg(content):
        try:
            arr = codecs.decode_jpeg(content)
        except ValueError as e:
            if "SOF marker" in str(e) or "precision" in str(e):
                return decode_image_stub(content, ref), "stub"
            raise
    elif codecs.is_gif(content):
        arr = codecs.decode_gif(content)
    elif _is_webp(content):
        from inform_spark.operators import vp8l

        try:
            arr = vp8l.decode_webp(content)[:, :, :3]  # drop alpha
        except ValueError as e:
            if "lossy WebP" in str(e):
                # recognized container, out-of-scope profile — same
                # stub verdict as progressive JPEG
                return decode_image_stub(content, ref), "stub"
            raise
    else:
        return decode_image_stub(content, ref), "stub"
    if arr.ndim == 2:  # grayscale JPEG: (h, w) -> (h, w, 1)
        arr = arr[:, :, None]
    g = codecs.to_gray(arr)
    return {
        "width": int(arr.shape[1]),
        "height": int(arr.shape[0]),
        "mean_luma": round(float(g.mean()), 3),
        "phash": codecs.average_phash(g),
    }, "ok"


def decode_image_stub(content: bytes | None, ref: str) -> dict:
    """Deterministic fake decode for formats the environment cannot
    decode (a real deployment replaces this body with
    PIL.Image.open(BytesIO(content)); everything else in the pipeline is
    unchanged). Raises for None content like a real decoder would.

    Returns width/height/mean_luma/phash derived from a seeded hash of the
    bytes so tests can assert exact values.
    """
    if content is None:
        raise ValueError(f"no content for {ref}")
    h = hashlib.md5(content).digest()
    rng = np.random.RandomState(int.from_bytes(h[:4], "big"))
    width = int(64 + (h[4] % 16) * 64)  # 64..1024, deterministic
    height = int(64 + (h[5] % 16) * 64)
    luma = float(rng.uniform(0, 255))
    phash = int.from_bytes(h[6:14], "big", signed=False) >> 1
    return {
        "width": width,
        "height": height,
        "mean_luma": round(luma, 3),
        "phash": phash,
    }


def _map_rows(media: DataFrame, partitions: int | None, schema: StructType,
              row) -> DataFrame:
    """The one row loop every media feature stage runs: content-hash
    repartition (``pmod(xxhash64(media_ref), N)`` balances hot-document
    skew before the CPU-heavy decode), then ``mapInPandas`` over Arrow
    batches, so the binary column never leaves the executor.
    ``row(content, media_ref)`` returns ``(features, status)``; ANY
    exception it raises, and any int feature that overflows its column,
    becomes NULL features and status ``'error'`` — untrusted bytes yield
    a verdict, never a failed task. ``schema`` is
    (media_ref, doc_id, *feature columns, status)."""
    n = partitions or media.sparkSession.sparkContext.defaultParallelism
    features = schema.names[2:-1]
    # Arrow builds an int column from the Python values and fails the
    # task on one that does not fit it (a crafted 2^31 Hz WAV, a 64-bit
    # mp4 duration): such a value makes its row an error instead
    int_bits = {
        f.name: 31 if isinstance(f.dataType, IntegerType) else 63
        for f in schema.fields[2:-1]
        if isinstance(f.dataType, (IntegerType, LongType))
    }

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, doc, content in zip(
                pdf["media_ref"], pdf["doc_id"], pdf["content"]
            ):
                try:
                    f, status = row(
                        bytes(content) if content is not None else None, ref
                    )
                    for c, b in int_bits.items():
                        v = f.get(c)
                        if v is not None and not -(1 << b) <= v < 1 << b:
                            raise OverflowError(f"{c}={v} overflows int{b + 1}")
                except Exception:
                    f, status = {}, "error"
                rows.append([ref, doc, *(f.get(c) for c in features), status])
            # object columns: inferred dtypes would turn ints plus None
            # into float64 and cut a 63-bit phash to 53 bits whenever one
            # row of the batch is an error; Arrow casts from the values
            yield pd.DataFrame(rows, columns=schema.names, dtype=object)

    return media.repartition(
        n, F.pmod(F.xxhash64("media_ref"), F.lit(n))
    ).mapInPandas(extract, schema=schema)


def image_features(media: DataFrame, partitions: int | None = None) -> DataFrame:
    """Decode + feature-extract every row with :func:`decode_image`
    (decode_ok ok | stub | error) on the shared row loop
    :func:`_map_rows`."""
    return _map_rows(media, partitions, IMAGE_FEATURES, decode_image)


def resize_images(media: DataFrame, max_px: int = 256) -> DataFrame:
    """Thumbnail stage: REAL resize for PNG/BMP content (decode via
    operators/codecs, deterministic block-mean downscale to fit
    ``max_px``, re-encode as PNG — format column becomes 'png'); the
    deterministic truncation stub for undecodable formats, and for
    PNG/BMP bytes that fail to decode, so hostile bytes never fail the
    task. Same mapInPandas shape either way: the binary column never
    leaves the executor, Arrow batches bound memory."""
    from inform_spark.operators import codecs

    def decoded(b: bytes) -> np.ndarray | None:
        try:
            return codecs.decode_png(b) if codecs.is_png(b) else codecs.decode_bmp(b)
        except Exception:  # not PNG/BMP, or hostile bytes that fail to decode
            return None

    def shrink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content, fmt = [], []
            for c, f in zip(pdf["content"], pdf["format"]):
                if c is None:
                    content.append(None)
                    fmt.append(f)
                    continue
                b = bytes(c)
                arr = decoded(b)
                if arr is not None:
                    h, w = arr.shape[:2]
                    if arr.shape[2] < 3:  # promote gray to RGB for encode
                        arr = np.repeat(arr[:, :, :1], 3, axis=2)
                    arr = arr[:, :, :3]
                    if max(h, w) > max_px:
                        scale = max_px / max(h, w)
                        oh = max(1, int(h * scale))
                        ow = max(1, int(w * scale))
                        arr = codecs.block_mean_resize(
                            arr.astype(np.float64), oh, ow
                        ).round().astype(np.uint8)
                    content.append(codecs.encode_png(np.ascontiguousarray(arr)))
                    fmt.append("png")
                else:
                    content.append(b[: max_px * 4])
                    fmt.append(f)
            out = pdf.copy()
            out["content"] = content
            out["format"] = fmt
            out["content_len"] = [
                0 if c is None else len(c) for c in content
            ]
            yield out

    return media.mapInPandas(shrink, schema=MEDIA)


# backward-compatible name: the stub truncation path still exists inside
# resize_images for undecodable formats
resize_stub = resize_images


def sample_frames_stub(media: DataFrame, every_ms: int = 1000, n_frames: int = 4) -> DataFrame:
    """Video frame sampling plumbing (1 row in -> n rows out via
    mapInPandas): real impl shells to a decoder; stub emits deterministic
    crc-tagged frames so ordering/fan-out is testable."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_ref": [], "frame_idx": [], "ts_ms": [], "frame": []}
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                for i in range(n_frames):
                    out["media_ref"].append(ref)
                    out["frame_idx"].append(i)
                    out["ts_ms"].append(i * every_ms)
                    tag = zlib.crc32(f"{ref}:{i}".encode()) & 0xFFFFFFFF
                    out["frame"].append(
                        None if content is None else tag.to_bytes(4, "big")
                    )
            yield pd.DataFrame(out)

    return media.filter(F.col("kind").isin("video", "image")).mapInPandas(
        sample, schema=FRAME_SAMPLE
    )


def _phash_band_keys(reps: DataFrame) -> DataFrame:
    """4 x 16-bit band keys per DISTINCT phash (input must already be
    the distinct-phash relation): candidates for hamming <= 3 share at
    least one band by pigeonhole. Banding DISTINCT hashes — not images —
    is the pre-collapse that keeps a hot logo (10^5 byte-identical
    copies, one phash) a single band row instead of a 10^10-pair
    bucket clique (the r4 scale-killer, fixed with the same discipline
    as textops.star_pairs_from_bands)."""
    return reps.select(
        "phash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        F.lit(j),
                        F.shiftright("phash", j * 16).bitwiseAND(F.lit(0xFFFF)),
                    )
                    for j in range(4)
                ]
            )
        ).alias("band_key"),
    )


def _phash_rep_pairs(feats: DataFrame, hamming_max: int) -> DataFrame:
    """(ph_a, ph_b, hamming) over DISTINCT phash values with
    0 < hamming <= hamming_max: band-bucket join on the distinct-phash
    relation, exact popcount filter on candidates. Bucket sizes are
    bounded by distinct-hash diversity per 16-bit band value (not by
    image multiplicity — identical copies collapsed upstream); a
    residual adversarial bucket (millions of DISTINCT phashes sharing
    one band) is an AQE skew-split hash join, never a cross join.

    Recall is complete only for ``hamming_max <= 3`` (the public
    defaults): a pair 4 bits apart can differ in all four bands and
    never become a candidate."""
    reps = feats.select("phash").distinct()
    bands = _phash_band_keys(reps)
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(r, "band_key")
        .filter(F.col("l.phash") < F.col("r.phash"))
        .select(
            F.col("l.phash").alias("ph_a"),
            F.col("r.phash").alias("ph_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return cand.withColumn("hamming", hamming.cast("int")).filter(
        F.col("hamming") <= hamming_max
    )


def near_dup_by_phash(features: DataFrame, hamming_max: int = 3) -> DataFrame:
    """Exact near-duplicate image pairs (a, b, hamming) by perceptual
    hash, a < b: identical phashes pre-collapse to one representative
    BEFORE the band join (:func:`_phash_rep_pairs`), then member pairs
    are expanded from the hash-level relation — two joins whose output
    is exactly the true pair set, plus the within-group hamming-0 pairs
    from a phash self-join.

    Scale: the band-bucket join — the r4 quadratic — now runs over
    DISTINCT phashes, so a hot logo costs one band row. The EXPANSION
    is output-size-bound by definition of "exact all pairs": a
    10^5-copy logo genuinely has ~5*10^9 hamming-0 pairs, and a caller
    that wants them pays for them. Clustering consumers should use
    :func:`phash_neardup_stars` (same components, O(n) edges);
    pair-level consumers with degenerate groups use
    :func:`near_dup_by_phash_capped` (capped + audited, never
    silent)."""
    feats = features.select("media_ref", "phash")
    rel = _phash_rep_pairs(feats, hamming_max)
    ma = feats.select(
        F.col("phash").alias("ph_a"), F.col("media_ref").alias("__ma")
    )
    mb = feats.select(
        F.col("phash").alias("ph_b"), F.col("media_ref").alias("__mb")
    )
    cross = (
        rel.join(ma, "ph_a")
        .join(mb, "ph_b")
        .select(
            F.least("__ma", "__mb").alias("a"),
            F.greatest("__ma", "__mb").alias("b"),
            "hamming",
        )
    )
    x, y = feats.alias("x"), feats.alias("y")
    intra = (
        x.join(y, "phash")
        .filter(F.col("x.media_ref") < F.col("y.media_ref"))
        .select(
            F.col("x.media_ref").alias("a"),
            F.col("y.media_ref").alias("b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(intra)


def phash_neardup_stars(features: DataFrame, hamming_max: int = 3) -> DataFrame:
    """Star edges (a, b) whose connected components are IDENTICAL to
    :func:`near_dup_by_phash`'s pair graph — the scale-safe form for
    clustering consumers (components/minhash_clusters semantics, same
    proof as textops.star_pairs_from_bands): within an identical-phash
    group the star (min-ref anchor -> member) and the clique connect
    the same vertex set; across groups one representative edge per
    near phash pair connects the same groups the full bipartite
    expansion would. A 10^5-copy hot logo costs 10^5 - 1 edges, not
    ~5*10^9 pairs. Map-side-combined min per phash, hash joins only."""
    feats = features.select("media_ref", "phash")
    groups = feats.groupBy("phash").agg(F.min("media_ref").alias("rep"))
    intra = (
        feats.join(groups, "phash")
        .filter(F.col("media_ref") != F.col("rep"))
        .select(F.col("rep").alias("a"), F.col("media_ref").alias("b"))
    )
    rel = _phash_rep_pairs(feats, hamming_max)
    inter = (
        rel.join(
            groups.select(
                F.col("phash").alias("ph_a"), F.col("rep").alias("__ra")
            ),
            "ph_a",
        )
        .join(
            groups.select(
                F.col("phash").alias("ph_b"), F.col("rep").alias("__rb")
            ),
            "ph_b",
        )
        .select(
            F.least("__ra", "__rb").alias("a"),
            F.greatest("__ra", "__rb").alias("b"),
        )
    )
    return intra.unionByName(inter)


def near_dup_by_phash_capped(
    features: DataFrame, hamming_max: int = 3, max_group: int = 64
) -> tuple[DataFrame, DataFrame]:
    """Exact pair expansion with each identical-phash group capped at
    its first ``max_group`` members (ranked by media_ref —
    deterministic, engine-independent) and a NEVER-SILENT audit:
    returns ``(pairs, audit)`` where ``audit`` has one row per
    truncated group: (phash, group_n, n_dropped_members). Callers must
    surface the audit — truncation is visible, not silent (same
    contract as textops.pairs_from_bands_capped). The per-group rank
    is a spillable window; only ``max_group`` rows per group reach the
    pair expansion."""
    from pyspark.sql import Window

    w = Window.partitionBy("phash").orderBy(F.col("media_ref").asc())
    sized = features.select("media_ref", "phash").withColumn(
        "__rk", F.row_number().over(w)
    )
    kept = sized.filter(F.col("__rk") <= max_group).drop("__rk")
    audit = (
        sized.groupBy("phash")
        .agg(F.count(F.lit(1)).alias("group_n"))
        .filter(F.col("group_n") > max_group)
        .select(
            "phash",
            "group_n",
            (F.col("group_n") - max_group)
            .cast("long")
            .alias("n_dropped_members"),
        )
    )
    return near_dup_by_phash(kept, hamming_max), audit


def phash_band_index(features: DataFrame) -> DataFrame:
    """The persisted index store for incremental image near-dup probes:
    one row per (phash, band_key) over DISTINCT phashes, carrying the
    group ``anchor`` (min media_ref with that hash) for match
    attribution. Production appends survivors' rows here after each
    batch and buckets the store by band_key, so the per-delta probe is
    a co-located join that touches only the delta's band buckets —
    never the image corpus (same store discipline as the minhash band
    index in ``streaming.dedup``)."""
    groups = features.groupBy("phash").agg(
        F.min("media_ref").alias("anchor")
    )
    return _phash_band_keys(groups.select("phash")).join(groups, "phash")


def phash_incremental(
    new_feats: DataFrame,
    index_feats: DataFrame | None = None,
    index_bands: DataFrame | None = None,
    hamming_max: int = 3,
) -> DataFrame:
    """Incremental image near-dup: judge a NEW batch of images against
    an EXISTING corpus index without touching the corpus — the
    continuous-ingest production shape (a crawl's daily image delta vs
    the persisted :func:`phash_band_index`), the image-side analog of
    ``components.minhash_incremental``. One row per new image:
    (media_ref, verdict, match_ref) with verdict ∈ {'dup_of_index'
    (its phash is within ``hamming_max`` of an indexed hash; match_ref
    = min matching group anchor), 'dup_of_new' (it collides only
    within the new batch and lost to its component's min media_ref),
    'kept'}.

    Scale: every join runs at the DISTINCT-phash level (identical
    copies pre-collapse — the hot-logo delta costs one probe row);
    the index side is only its band store; new-vs-new resolution is
    connected components over the surviving hash pair graph, which for
    a micro-batch is small enough (at most
    ``components.LOCAL_MAX_EDGES`` edges) to be labelled on the driver
    after one bounded collect, not in a Spark job per propagation round.
    Survivor-only transitivity, as documented on minhash_incremental:
    a new image whose only link to an indexed family passes through a
    removed duplicate is 'kept' — batching-invariant, because removed
    hashes are never indexed either way.

    Pass exactly one of ``index_feats`` (re-bands raw features — the
    test/oracle path) or ``index_bands`` (the persisted store)."""
    from inform_spark.operators.components import connected_components

    if (index_feats is None) == (index_bands is None):
        raise ValueError("pass exactly one of index_feats / index_bands")
    ib = (
        index_bands
        if index_bands is not None
        else phash_band_index(index_feats)
    )
    newg = new_feats.groupBy("phash").agg(
        F.min("media_ref").alias("__na")
    )
    nb = _phash_band_keys(newg.select("phash"))
    cand = (
        nb.join(
            ib.select(
                F.col("phash").alias("__iph"), "band_key", "anchor"
            ),
            "band_key",
        )
        .select("phash", "__iph", "anchor")
        .distinct()
    )
    hits = (
        cand.filter(
            F.bit_count(F.col("phash").bitwiseXOR(F.col("__iph")))
            <= hamming_max
        )
        .groupBy("phash")
        .agg(F.min("anchor").alias("__hit"))
        .localCheckpoint()  # referenced twice; index pipeline runs once
    )
    surv = newg.join(hits, "phash", "left_anti")
    pairs = _phash_rep_pairs(surv.select("phash"), hamming_max).select(
        "ph_a", "ph_b"
    )
    comp = connected_components(pairs, "ph_a", "ph_b").withColumnRenamed(
        "v", "phash"
    )
    lab = surv.join(comp, "phash", "left").withColumn(
        "lbl", F.coalesce("component", "phash")
    )
    anchors = lab.groupBy("lbl").agg(F.min("__na").alias("__anchor"))
    labeled = lab.join(anchors, "lbl").select("phash", "__anchor")
    return (
        new_feats.join(hits, "phash", "left")
        .join(labeled, "phash", "left")
        .select(
            "media_ref",
            F.when(F.col("__hit").isNotNull(), F.lit("dup_of_index"))
            .when(
                F.col("media_ref") != F.col("__anchor"),
                F.lit("dup_of_new"),
            )
            .otherwise(F.lit("kept"))
            .alias("verdict"),
            F.coalesce(
                "__hit",
                F.when(
                    F.col("media_ref") != F.col("__anchor"),
                    F.col("__anchor"),
                ),
            ).alias("match_ref"),
        )
    )


AUDIO_FEATURES = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("doc_id", StringType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("rms", FloatType(), True),
        StructField("decode_ok", StringType(), False),  # ok | error
    ]
)


def _wav_row(content: bytes | None, ref: str) -> tuple[dict, str]:
    from inform_spark.operators import codecs

    return codecs.decode_wav(content), "ok"


def audio_features(media: DataFrame, partitions: int | None = None) -> DataFrame:
    """Audio feature extraction: REAL WAV-PCM decode
    (operators/codecs.decode_wav — RIFF chunk walk, 16-bit PCM) for
    sample_rate / channels / duration / RMS; rows whose bytes are not a
    decodable WAV come back decode_ok='error' with NULL features (an
    explicit verdict — compressed formats stay blocked until a codec
    library exists in the environment). Runs on the shared row loop
    :func:`_map_rows`."""
    audio = media.filter(F.col("kind") == "audio")
    return _map_rows(audio, partitions, AUDIO_FEATURES, _wav_row)


VIDEO_METADATA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("doc_id", StringType(), False),
        StructField("major_brand", StringType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("n_tracks", IntegerType(), True),
        StructField("video_codec", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("audio_codec", StringType(), True),
        StructField("parse_ok", StringType(), False),  # ok | error
    ]
)


def _mp4_row(content: bytes | None, ref: str) -> tuple[dict, str]:
    from inform_spark.operators import codecs

    m = codecs.parse_mp4(content)
    vid = next((t for t in m["tracks"] if t["kind"] == "video"), {})
    aud = next((t for t in m["tracks"] if t["kind"] == "audio"), {})
    return {
        "major_brand": m["major_brand"], "duration_ms": m["duration_ms"],
        "n_tracks": len(m["tracks"]), "video_codec": vid.get("codec"),
        "width": vid.get("width"), "height": vid.get("height"),
        "audio_codec": aud.get("codec"),
    }, "ok"


def video_metadata(media: DataFrame, partitions: int | None = None) -> DataFrame:
    """Video container metadata: REAL ISO BMFF box walk
    (operators/codecs.parse_mp4 — ftyp/mvhd/trak/tkhd/mdhd/hdlr/stsd/
    stsz per ISO/IEC 14496-12) for duration, track layout, codec
    fourccs, and display dimensions — the structural pass a 100 TB
    video pipeline runs on EVERY asset before deciding what to decode.
    Frame decode stays behind the disclosed stub seam
    (sample_frames_stub) until a codec library exists in the
    environment; the metadata columns are real. Non-BMFF bytes come
    back parse_ok='error' with NULL features. Runs on the shared row
    loop :func:`_map_rows`."""
    video = media.filter(F.col("kind") == "video")
    return _map_rows(video, partitions, VIDEO_METADATA, _mp4_row)


def media_boilerplate(
    occurrences: DataFrame,
    fingerprint_col: str = "fingerprint",
    min_docs: int = 10,
) -> DataFrame:
    """Boilerplate-media detection: a media asset (logo, tracking
    pixel, nav sprite) whose content FINGERPRINT occurs in >=
    ``min_docs`` distinct documents is layout furniture, not content —
    OBELICS (Laurencon et al. 2023, S3.2) drops exactly this class
    before image-text training. The reference has no media dedup at
    all (builder-brief scope).

    ``occurrences`` is one row per media placement —
    ``(doc_id, media_ref, <fingerprint_col>)`` — where the fingerprint
    comes from any content-derived hash (the pHash of
    :func:`image_features`, a sha of the bytes, ...). Returns every
    occurrence annotated with ``doc_freq`` (distinct docs containing
    the fingerprint) and ``is_boilerplate``.

    Scale: ONE groupBy on the fingerprint (map-side partial
    ``approx=false`` distinct-doc count via a two-phase exact
    aggregate — (fingerprint, doc_id) pre-dedup then count — so a
    logo in 10^9 docs never concentrates on one reducer as raw rows),
    then a join back. In a drop-only production pipeline, join back
    by BROADCASTING only the above-threshold fingerprints (bounded by
    corpus_docs / min_docs) and anti-joining; the annotated form here
    keeps ``doc_freq`` on every row for the stats consumers.
    """
    fp = F.col(fingerprint_col)
    # two-phase exact distinct: dedup (fingerprint, doc) first so the
    # final count aggregates pre-combined rows, not raw occurrences
    per_doc = (
        occurrences.select(fp.alias("__fp"), F.col("doc_id")).distinct()
    )
    freq = per_doc.groupBy("__fp").agg(
        F.count("*").cast("long").alias("doc_freq")
    )
    out = occurrences.join(
        freq, occurrences[fingerprint_col] == freq["__fp"], "left"
    ).drop("__fp")
    # NULL fingerprints (undecodable media) never equi-join: give them
    # an explicit not-boilerplate verdict instead of a NULL one — a
    # NULL verdict upstream of a filter would silently drop the row
    return out.withColumn(
        "doc_freq", F.coalesce("doc_freq", F.lit(0).cast("long"))
    ).withColumn(
        "is_boilerplate", F.col("doc_freq") >= F.lit(min_docs)
    )
