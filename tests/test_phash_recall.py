"""Recall of the phash near-dup pair join at its default threshold.

``multimodal._phash_rep_pairs`` bands each 63-bit phash into 4 x 16-bit
keys, so two hashes at most 3 bits apart agree on at least one band
(pigeonhole) and always become a candidate; at 4 bits they can differ in
every band. The public defaults are therefore ``hamming_max=3``."""

import inspect
import itertools

from hypothesis import given, settings
from hypothesis import strategies as st

from inform_spark.operators import multimodal as mm
from inform_spark.streaming import imagededup

PHASH = st.integers(0, 2**63 - 1)


@st.composite
def phash_families(draw):
    """A few random bases, each with variants that flip one bit in each of
    up to 3 distinct bands (the case banding must still catch), so variants
    of one base sit 0-6 bits apart from each other."""
    hashes = []
    for base in draw(st.lists(PHASH, min_size=1, max_size=4)):
        hashes.append(base)
        for bands in draw(st.lists(
                st.lists(st.integers(0, 3), unique=True, max_size=3),
                max_size=5)):
            bits = {min(16 * band + draw(st.integers(0, 15)), 62)
                    for band in bands}
            hashes.append(base ^ sum(1 << b for b in bits))
    return hashes


def _hamming(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


@settings(max_examples=12, deadline=None)
@given(hashes=phash_families(), hamming_max=st.integers(0, 3))
def test_near_dup_by_phash_finds_every_pair_within_hamming_max(
    spark, hashes, hamming_max
):
    rows = [(f"m{i:03d}", h) for i, h in enumerate(hashes)]
    feats = spark.createDataFrame(rows, "media_ref string, phash long")
    got = sorted(
        (r["a"], r["b"], r["hamming"])
        for r in mm.near_dup_by_phash(feats, hamming_max).collect()
    )
    want = sorted(
        (a, b, _hamming(pa, pb))
        for (a, pa), (b, pb) in itertools.combinations(rows, 2)
        if _hamming(pa, pb) <= hamming_max
    )
    assert got == want


def test_hamming_max_defaults_to_banding_recall_bound():
    for fn in (mm.near_dup_by_phash, mm.phash_neardup_stars,
               mm.near_dup_by_phash_capped, mm.phash_incremental,
               imagededup.process_batch, imagededup.image_dedup_stream):
        assert inspect.signature(fn).parameters["hamming_max"].default == 3, fn
