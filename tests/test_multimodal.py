"""Multimodal plumbing: schema, Arrow batch shapes, fan-out, dedup buckets.

The codecs are stubs (container has no PIL/ffmpeg); what these tests pin
down is the Spark-side contract — mapInPandas signatures, deterministic
outputs, 1->N frame fan-out, phash band-join candidate generation."""

import pyspark.sql.functions as F
import pytest

from inform_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (f"https://site0.test/assets/img-{i}.png", f"doc-{i % 3}")
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "media_ref string, doc_id string")
    return mm.synthesize_media(docs).cache()


def test_media_schema_and_bytes(media):
    assert [f.name for f in media.schema.fields] == [
        f.name for f in mm.MEDIA.fields
    ]
    r = media.filter(F.col("media_ref").endswith("img-0.png")).first()
    assert bytes(r["content"]).startswith(b"FAKEPNG:")
    assert r["format"] == "png"


def test_image_features_deterministic(spark, media):
    f1 = {r["media_ref"]: r for r in mm.image_features(media).collect()}
    f2 = {r["media_ref"]: r for r in mm.image_features(media, partitions=3).collect()}
    assert set(f1) == set(f2) and len(f1) == 20
    for ref in f1:
        assert f1[ref]["phash"] == f2[ref]["phash"]
        assert f1[ref]["decode_ok"] == "stub"
        assert 64 <= f1[ref]["width"] <= 1024


def test_decode_error_row_not_exception(spark):
    docs = spark.createDataFrame(
        [("https://x.test/a.png", "d0")], "media_ref string, doc_id string"
    )
    broken = mm.synthesize_media(docs).withColumn(
        "content", F.lit(None).cast("binary")
    )
    rows = mm.image_features(broken).collect()
    assert len(rows) == 1 and rows[0]["decode_ok"] == "error"
    assert rows[0]["width"] is None


def test_phash_exact_beside_an_error_row(spark):
    """One Arrow batch holding 3 PNGs and 1 undecodable row: every good
    row's 63-bit phash equals its value decoded alone (an int column
    with a null must not pass through float64)."""
    import numpy as np
    import pandas as pd

    from inform_spark.operators import codecs

    rng = np.random.default_rng(7)
    pngs = [
        codecs.encode_png(rng.integers(0, 256, (16, 16, 3), dtype=np.uint8))
        for _ in range(3)
    ]
    alone = {
        f"{i}.png": mm.decode_image(png, f"{i}.png")[0]["phash"]
        for i, png in enumerate(pngs)
    }
    # the check only bites on hashes that float64 cannot hold exactly
    assert any(int(float(p)) != p for p in alone.values())
    content = pngs + [codecs.PNG_SIG + b"garbage"]
    media = spark.createDataFrame(
        pd.DataFrame({
            "media_ref": [f"{i}.png" for i in range(4)],
            "doc_id": ["1"] * 4,
            "kind": ["image"] * 4,
            "content": content,
            "content_len": [len(c) for c in content],
            "format": ["png"] * 4,
        }),
        schema=mm.MEDIA,
    )
    got = {
        r["media_ref"]: r
        for r in mm.image_features(media, partitions=1).collect()
    }
    assert got["3.png"]["decode_ok"] == "error"
    assert {k: got[k]["phash"] for k in alone} == alone


def test_resize_caps_length(media):
    out = mm.resize_stub(media, max_px=4).collect()
    assert all(r["content_len"] <= 16 for r in out)


def test_frame_sampling_fanout(media):
    frames = mm.sample_frames_stub(media, every_ms=500, n_frames=3)
    rows = frames.filter(F.col("media_ref").endswith("img-1.png")).orderBy(
        "frame_idx"
    ).collect()
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]
    assert [r["ts_ms"] for r in rows] == [0, 500, 1000]
    assert rows[0]["frame"] is not None


def test_phash_near_dup_buckets(spark):
    # hand-built phashes: a~b differ in 2 bits (same 3 of 4 bands);
    # c differs everywhere
    rows = [
        ("a", 0x1111_2222_3333_4444),
        ("b", 0x1111_2222_3333_4447),  # 2 low bits flipped
        ("c", 0x0F0F_F0F0_0F0F_F0F0),
    ]
    feats = spark.createDataFrame(rows, "media_ref string, phash long")
    pairs = mm.near_dup_by_phash(feats, hamming_max=4).collect()
    assert [(p["a"], p["b"], p["hamming"]) for p in pairs] == [("a", "b", 2)]


# ---------------------------------------------------------------------------
# phash near-dup: pre-collapse / star / capped (round-5 rewrite)
# ---------------------------------------------------------------------------


def _components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return frozenset(
        frozenset(n for n in nodes if find(n) == r)
        for r in {find(n) for n in nodes}
    )


def test_phash_stars_same_components_as_exact_pairs(spark):
    # 3 identical-phash groups; groups 0 and 1 near (hamming 2),
    # group 2 far; plus a singleton near group 2
    base = 0x1111_2222_3333_4444
    rows = (
        [(f"g0-{i}", base) for i in range(4)]
        + [(f"g1-{i}", base ^ 0x3) for i in range(3)]
        + [(f"g2-{i}", 0x0F0F_F0F0_0F0F_F0F0) for i in range(2)]
        + [("solo", 0x0F0F_F0F0_0F0F_F0F1)]
    )
    feats = spark.createDataFrame(rows, "media_ref string, phash long")
    nodes = [r[0] for r in rows]
    exact = [
        (r["a"], r["b"])
        for r in mm.near_dup_by_phash(feats, hamming_max=4).collect()
    ]
    stars = [
        (r["a"], r["b"])
        for r in mm.phash_neardup_stars(feats, hamming_max=4).collect()
    ]
    assert _components(exact, nodes) == _components(stars, nodes)
    # star edge count is linear: (4-1)+(3-1)+(2-1)+0 intra + 2 inter
    assert len(stars) == 8
    # exact pairs include the full intra cliques + bipartite expansion
    assert len(exact) == 6 + 3 + 1 + 12 + 2


def test_phash_hot_logo_star_is_linear(spark):
    # the r4 scale-killer: 10k byte-identical logos (one phash) used to
    # build a 10k-wide band bucket -> ~5*10^7 candidate pairs; the
    # pre-collapsed star form emits exactly n-1 edges and the band join
    # sees ONE row for the whole group
    n = 10_000
    hot = 0x7777_1234_ABCD_0042
    feats = spark.range(n).select(
        F.concat(F.lit("logo-"), F.col("id")).alias("media_ref"),
        F.lit(hot).alias("phash"),
    ).unionByName(
        spark.createDataFrame(
            [("other", 0x0123_4567_89AB_CDEF)],
            "media_ref string, phash long",
        )
    )
    stars = mm.phash_neardup_stars(feats, hamming_max=4)
    assert stars.count() == n - 1
    anchors = stars.select("a").distinct().collect()
    assert [r["a"] for r in anchors] == ["logo-0"]


def test_phash_capped_pairs_audit_never_silent(spark):
    base = 0x1111_2222_3333_4444
    rows = [(f"m{i:02d}", base) for i in range(10)] + [
        ("near", base ^ 0x1)
    ]
    feats = spark.createDataFrame(rows, "media_ref string, phash long")
    pairs, audit = mm.near_dup_by_phash_capped(
        feats, hamming_max=2, max_group=4
    )
    a = audit.collect()
    assert len(a) == 1
    assert a[0]["group_n"] == 10 and a[0]["n_dropped_members"] == 6
    got = pairs.collect()
    # 4 kept members -> C(4,2)=6 intra pairs + 4 cross pairs to 'near'
    assert len(got) == 10
    kept = {f"m{i:02d}" for i in range(4)} | {"near"}
    assert all(r["a"] in kept and r["b"] in kept for r in got)


def test_phash_exact_pairs_match_bruteforce(spark):
    import itertools

    rows = [
        ("a", 0x1111_2222_3333_4444),
        ("b", 0x1111_2222_3333_4447),
        ("c", 0x1111_2222_3333_4444),
        ("d", 0x0F0F_F0F0_0F0F_F0F0),
    ]
    feats = spark.createDataFrame(rows, "media_ref string, phash long")
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in mm.near_dup_by_phash(feats, hamming_max=4).collect()
    }
    want = set()
    for (ra, pa), (rb, pb) in itertools.combinations(rows, 2):
        h = bin(pa ^ pb).count("1")
        if h <= 4:
            want.add((min(ra, rb), max(ra, rb), h))
    assert got == want


def test_phash_incremental_verdicts(spark):
    """All three verdicts on a hand-built scene: idx holds phash P
    (two copies); new batch has P (dup_of_index), P^1 (near P ->
    dup_of_index), a fresh pair Q/Q (one kept anchor, one dup_of_new),
    and a loner (kept)."""
    P = 0x1111_2222_3333_4444
    Q = 0x0F0F_F0F0_0F0F_F0F0
    idx = spark.createDataFrame(
        [("i-b", P), ("i-a", P)], "media_ref string, phash long"
    )
    new = spark.createDataFrame(
        [
            ("n-exact", P),
            ("n-near", P ^ 0x1),
            ("n-q1", Q),
            ("n-q2", Q),
            ("n-solo", 0x7777_0000_1234_5678),
        ],
        "media_ref string, phash long",
    )
    out = {
        r["media_ref"]: (r["verdict"], r["match_ref"])
        for r in mm.phash_incremental(
            new, index_feats=idx, hamming_max=2
        ).collect()
    }
    assert out["n-exact"] == ("dup_of_index", "i-a")
    assert out["n-near"] == ("dup_of_index", "i-a")
    assert out["n-q1"] == ("kept", None)
    assert out["n-q2"] == ("dup_of_new", "n-q1")
    assert out["n-solo"] == ("kept", None)


def test_phash_incremental_persisted_band_store_parity(spark):
    """index_bands (the persisted store) must judge identically to
    re-banding the raw index features."""
    feats = spark.range(30).select(
        F.concat(F.lit("x"), F.col("id")).alias("media_ref"),
        (F.lit(0x4242_0000_0000_0000) + F.expr("id div 3")).alias("phash"),
    )
    new = spark.range(30, 45).select(
        F.concat(F.lit("y"), F.col("id")).alias("media_ref"),
        (F.lit(0x4242_0000_0000_0000) + F.pmod("id", F.lit(20))).alias(
            "phash"
        ),
    )
    store = mm.phash_band_index(feats)
    a = {
        tuple(r)
        for r in mm.phash_incremental(
            new, index_feats=feats, hamming_max=2
        ).collect()
    }
    b = {
        tuple(r)
        for r in mm.phash_incremental(
            new, index_bands=store, hamming_max=2
        ).collect()
    }
    assert a == b and len(a) == 15


def test_phash_incremental_requires_exactly_one_index(spark):
    import pytest

    f = spark.createDataFrame([("a", 1)], "media_ref string, phash long")
    with pytest.raises(ValueError, match="exactly one"):
        mm.phash_incremental(f)
    with pytest.raises(ValueError, match="exactly one"):
        mm.phash_incremental(f, index_feats=f, index_bands=f)
