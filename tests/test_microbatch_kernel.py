"""The shared micro-batch kernel (``streaming.microbatch``): a key that
comes back in a later batch meets its earlier self in the index, a
replay changes nothing, and no loop wires its own stream or sink."""

import inspect
import os

import pytest

from inform_spark import streaming
from inform_spark.streaming import (
    cardinality,
    chunkdedup,
    curation,
    dedup,
    encode,
    imagededup,
    reputation,
)

TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
TEXT_SCHEMA = "doc_id long, text string"


def _dedup(spark, tmp):
    idx, ver = os.path.join(tmp, "index"), os.path.join(tmp, "verdicts")
    dedup.init_index(spark, idx)
    return (
        spark.createDataFrame([(5, TEXT)], TEXT_SCHEMA),
        lambda df, b: dedup.process_batch(df, b, idx, ver),
        lambda: [(r["doc_id"], r["verdict"], r["match_id"], r["batch_id"])
                 for r in dedup.read_verdicts(spark, ver).collect()],
        idx,
        [(5, "kept", None, 0), (5, "dup_of_index", 5, 2)],
    )


def _chunkdedup(spark, tmp):
    idx, ver = os.path.join(tmp, "index"), os.path.join(tmp, "verdicts")
    chunkdedup.init_chunk_index(spark, idx, w=3, divisor=4)
    return (
        spark.createDataFrame([(5, TEXT)], TEXT_SCHEMA),
        lambda df, b: chunkdedup.process_batch(df, b, idx, ver, w=3, divisor=4),
        lambda: [(r["doc_id"], r["stored_chunks"] > 0, r["batch_id"])
                 for r in chunkdedup.read_chunk_verdicts(spark, ver).collect()],
        idx,
        [(5, True, 0), (5, False, 2)],  # the re-arrival stores no chunk
    )


def _curation(spark, tmp):
    idx, ver = os.path.join(tmp, "index"), os.path.join(tmp, "verdicts")
    stats = os.path.join(tmp, "stats")
    ref = spark.createDataFrame([(i, TEXT, "ref") for i in range(3)],
                                "doc_id long, text string, source string")
    curation.build_reference_stats(spark, ref, stats)
    curation.init_index(spark, idx)
    return (
        spark.createDataFrame([(5, TEXT, "s1")],
                              "doc_id long, text string, source string"),
        lambda df, b: curation.process_batch(df, b, stats, idx, ver),
        lambda: [(r["doc_id"], r["dup_verdict"], r["match_id"], r["batch_id"])
                 for r in curation.read_verdicts(spark, ver).collect()],
        idx,
        [(5, "kept", None, 0), (5, "dup_of_index", 5, 2)],
    )


def _imagededup(spark, tmp):
    idx, ver = os.path.join(tmp, "index"), os.path.join(tmp, "verdicts")
    imagededup.init_index(spark, idx)
    return (
        spark.createDataFrame([("m1", 0x1111_2222_3333_4444)],
                              "media_ref string, phash long"),
        lambda df, b: imagededup.process_batch(df, b, idx, ver, hamming_max=2),
        lambda: [(r["media_ref"], r["verdict"], r["match_ref"], r["batch_id"])
                 for r in imagededup.read_verdicts(spark, ver).collect()],
        idx,
        [("m1", "kept", None, 0), ("m1", "dup_of_index", "m1", 2)],
    )


@pytest.mark.parametrize(
    "loop", [_dedup, _chunkdedup, _curation, _imagededup],
    ids=["dedup", "chunkdedup", "curation", "imagededup"],
)
def test_rearrival_meets_its_earlier_self_and_replay_is_a_noop(
    spark, tmp_path, loop
):
    """The same key with the same content arrives in batch 0 and again
    in batch 2 (a re-crawl under the same id): the later arrival must be
    judged against the index its earlier self wrote, not be mistaken for
    a crashed attempt of its own batch. Replaying batch 2 then leaves
    the verdicts and the index as they were."""
    batch, process, verdicts, index_dir, want = loop(spark, str(tmp_path))

    def index_rows():
        return sorted(map(tuple, spark.read.parquet(index_dir).collect()))

    process(batch, 0)
    process(batch, 2)
    got = sorted(verdicts(), key=repr)
    assert got == sorted(want, key=repr)
    rows = index_rows()
    process(batch, 2)  # replay: verdicts + index committed, checkpoint not
    assert sorted(verdicts(), key=repr) == got
    assert index_rows() == rows


LOOPS = (cardinality, chunkdedup, curation, dedup, encode, imagededup, reputation)


def test_only_the_kernel_wires_streams_and_sinks():
    """Stream wiring and the partition-overwrite sink live in
    ``streaming/microbatch.py`` alone, so no loop grows its own copy of
    the replay rule again; and no loop takes a trigger option."""
    root = os.path.dirname(streaming.__file__)
    for name in sorted(os.listdir(root)):
        if not name.endswith(".py") or name == "microbatch.py":
            continue
        with open(os.path.join(root, name)) as f:
            src = f.read()
        for word in ("foreachBatch", "partitionOverwriteMode", "availableNow"):
            assert word not in src, f"{name} mentions {word}"
    for mod in LOOPS:
        for fname, fn in inspect.getmembers(mod, inspect.isfunction):
            if fname.endswith("_stream"):
                assert "available_now" not in inspect.signature(fn).parameters
