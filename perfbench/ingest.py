"""The ``ingest_stream`` workload: three availableNow Structured Streaming
queries, run one after another, each reading the same fixed-size
micro-batch files one file per trigger:

- ``streaming.dedup.dedup_stream`` and ``streaming.curation.curation_stream``
  over text with planted near-duplicate families;
- ``streaming.imagededup.image_dedup_stream`` over
  ``operators.multimodal.image_features`` decodes of PNG and GIF bytes
  with planted hamming-1 phash groups.

Each query is a closed loop with one client: the next micro-batch starts
after the previous one commits. A micro-batch's wall time is the sum of
the three queries' ``triggerExecution`` for that file; the first
``WARMUP`` files of every query are set-up.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from datetime import datetime

import pyarrow as pa

import fixtures
import tracing as tr

WARMUP = 1
TEXT_FAMILIES = 24  # per file: 60 text rows (a multiple of 12: the same mix)
IMAGE_FAMILIES = 12  # per file: 30 images (a multiple of 12: the same mix)
NOMINAL_BATCH_S = 7.0  # sizes the number of files from --seconds
LAYERS = ("streaming.dedup", "streaming.curation", "streaming.imagededup")

TEXT_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
MEDIA_SCHEMA = pa.schema([
    ("media_ref", pa.string()), ("doc_id", pa.string()), ("kind", pa.string()),
    ("content", pa.binary()), ("content_len", pa.int64()), ("format", pa.string()),
])


def n_timed(seconds: float) -> int:
    return max(2, round(seconds / NOMINAL_BATCH_S))


def _inputs(ctx, n_files: int) -> dict:
    spark = ctx.spark
    from inform_spark.streaming import curation

    text, text_family, reference = fixtures.text_batches(
        ctx.seed, n_files, TEXT_FAMILIES
    )
    images, image_family = fixtures.image_batches(ctx.seed, n_files, IMAGE_FAMILIES)
    d = {k: os.path.join(ctx.work, k) for k in ("text", "images", "stats")}
    fixtures.write_batch_files(d["text"], text, TEXT_SCHEMA)
    fixtures.write_batch_files(d["images"], images, MEDIA_SCHEMA)
    curation.build_reference_stats(
        spark, spark.createDataFrame(reference, "doc_id long, text string"),
        d["stats"],
    )
    return {
        "dirs": d, "text": text, "images": images,
        "text_family": text_family, "image_family": image_family,
    }


def _queries(spark, inp: dict, out: str):
    """(layer, start) pairs; ``start()`` starts the layer's query over the
    input files, with its index, verdicts and checkpoint under ``out``."""
    from inform_spark.operators import multimodal
    from inform_spark.streaming import curation, dedup, imagededup

    def p(layer, what):
        return os.path.join(out, layer, what)

    def text_stream():
        return (spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1).parquet(inp["dirs"]["text"]))

    def start_dedup():
        return dedup.dedup_stream(
            text_stream(), p("dedup", "index"), p("dedup", "verdicts"),
            p("dedup", "checkpoint"),
        )

    def start_curation():
        return curation.curation_stream(
            text_stream(), inp["dirs"]["stats"], p("curation", "index"),
            p("curation", "verdicts"), p("curation", "checkpoint"),
        )

    def start_images():
        media = (spark.readStream.schema(multimodal.MEDIA)
                 .option("maxFilesPerTrigger", 1).parquet(inp["dirs"]["images"]))
        feats = multimodal.image_features(media).select("media_ref", "phash")
        return imagededup.image_dedup_stream(
            feats, p("imagededup", "index"), p("imagededup", "verdicts"),
            p("imagededup", "checkpoint"),
        )

    return [("streaming.dedup", start_dedup),
            ("streaming.curation", start_curation),
            ("streaming.imagededup", start_images)]


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _pass(ctx, inp: dict, out: str, layers) -> dict:
    """Run the given layers' queries one after another; per layer, the
    progress of every micro-batch that read a file and the time its query
    started. ``ctx.done`` counts the micro-batches run."""
    from inform_spark.streaming import curation, dedup, imagededup

    spark = ctx.spark
    init = {"streaming.dedup": dedup.init_index,
            "streaming.curation": curation.init_index,
            "streaming.imagededup": imagededup.init_index}
    res = {}
    for layer, start in _queries(spark, inp, out):
        if layer not in layers:
            continue
        init[layer](spark, os.path.join(out, layer.split(".")[1], "index"))
        t = time.time()
        q = start()
        try:
            q.awaitTermination()
        finally:
            prog = sorted(
                (p for p in q.recentProgress if p.numInputRows > 0),
                key=lambda p: p.batchId,
            )
            ctx.done += len(prog)
        if q.exception() is not None:
            raise RuntimeError(f"{layer} query failed: {q.exception()}")
        res[layer] = {"start": t, "progress": prog}
    return res


def _walls(res: dict, layers, first: int, n: int) -> list[float]:
    return [
        sum(res[layer]["progress"][i].durationMs["triggerExecution"]
            for layer in layers) / 1000.0
        for i in range(first, first + n)
    ]


def run(ctx) -> dict:
    """One pass of the three queries over ``WARMUP`` + n files, then the
    checks. In the traced run the pass is traced, and untraced passes of
    the dedup loop alone (the cheapest loop to repeat) run before and after
    it. The one before warms the JVM up; the one after is the overhead
    reference. The overhead also carries any drift of the machine's speed
    between the two passes, so a small value of either sign is noise."""
    spark, tracer = ctx.spark, ctx.tracer
    n = n_timed(ctx.seconds)
    n_files = WARMUP + n
    t_ready = time.time()
    inp = _inputs(ctx, n_files)
    out_dir = os.path.join(ctx.work, "pass")
    if tracer:
        t = time.time()
        ref = [_pass(ctx, inp, os.path.join(ctx.work, "reference-0"), LAYERS[:1])]
        t_ready += time.time() - t  # the reference pass is not set-up
        store = tr.StatusStore(spark)
        first_job = store.last_job_id()
        spark.profile.clear()
        tr.profiler(spark, True)
        tracer.install()
    try:
        res = _pass(ctx, inp, out_dir, LAYERS)
    finally:
        if tracer:
            tracer.uninstall()
            tr.profiler(spark, False)
    for layer in LAYERS:
        if len(res[layer]["progress"]) != n_files:
            raise RuntimeError(
                f"{layer}: {len(res[layer]['progress'])} micro-batches "
                f"for {n_files} files"
            )
    first_query = res[LAYERS[0]]["start"]
    setup_s = (first_query - t_ready) + sum(
        _epoch(res[layer]["progress"][WARMUP].timestamp) - res[layer]["start"]
        for layer in LAYERS
    )
    walls = _walls(res, LAYERS, WARMUP, n)
    rows = [len(t) + len(i) for t, i in zip(inp["text"], inp["images"])]
    phase = {"inputs": first_query - t_ready, "pass": time.time() - first_query}

    out = {
        "walls": walls,
        "items": sum(rows[WARMUP:]),
        "setup_s": setup_s,
        "batches": len(LAYERS) * n_files,
        "layer": {},
        "detail": {
            "rows_per_file": rows, "phase_s": phase,
            "trigger_s": {
                layer: [p.durationMs["triggerExecution"] / 1000
                        for p in res[layer]["progress"]]
                for layer in LAYERS
            },
        },
    }
    if tracer:
        t_phase = time.time()
        out["layer"] = _layers(ctx, inp, res, out_dir, store, first_job, n)
        ref.append(_pass(ctx, inp, os.path.join(ctx.work, "reference-1"), LAYERS[:1]))
        ref_p50 = [statistics.median(_walls(r, LAYERS[:1], WARMUP, n)) for r in ref]
        traced_p50 = statistics.median(_walls(res, LAYERS[:1], WARMUP, n))
        out["layer"]["bench.trace_overhead"] = traced_p50 / ref_p50[1] - 1
        out["detail"]["reference_dedup_p50_s"] = ref_p50
        phase["layers"] = time.time() - t_phase
    t_phase = time.time()
    out["failed_batches"] = sorted(check(spark, inp, out_dir))
    phase["check"] = time.time() - t_phase
    return out


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------


def _verdict_failures(rows, family, ids_in, key, verdict, match) -> set:
    """Batches whose rows break a check: every input row gets exactly one
    verdict; each planted family keeps exactly one member; a dropped row's
    match is a member of its own family."""
    bad = set()
    seen = defaultdict(list)
    for r in rows:
        seen[r[key]].append(r)
    kept = defaultdict(list)
    for k in ids_in:
        rs = seen.get(k, [])
        if len(rs) != 1:
            bad.update([r["batch_id"] for r in rs] or [-1])  # -1: no verdict
            continue
        r = rs[0]
        if r[verdict] == "kept":
            kept[family[k]].append(r)
        elif r[match] is None or family.get(r[match]) != family[k]:
            bad.add(r["batch_id"])
    if set(seen) != set(ids_in):
        bad.update(r["batch_id"] for k in set(seen) - set(ids_in) for r in seen[k])
    for fam in set(family[k] for k in ids_in):
        if len(kept[fam]) != 1:
            bad.update([r["batch_id"] for r in kept[fam]] or [-1])
    return bad


def check(spark, inp: dict, out: str) -> set:
    """Failed (layer, batch) pairs of one pass. Dedup families are the
    planted ones; curation's exact-hash families are the distinct texts;
    image families are the planted hamming-1 groups."""
    from inform_spark.streaming import curation, dedup, imagededup

    text_ids = [d for rows in inp["text"] for d, _ in rows]
    text_of = {d: t for rows in inp["text"] for d, t in rows}
    exact = {}
    exact_family = {d: exact.setdefault(t, len(exact)) for d, t in text_of.items()}
    media_ids = [r[0] for rows in inp["images"] for r in rows]
    bad = set()
    v = dedup.read_verdicts(spark, os.path.join(out, "dedup", "verdicts")).collect()
    bad |= {("streaming.dedup", b) for b in _verdict_failures(
        v, inp["text_family"], text_ids, "doc_id", "verdict", "match_id")}
    v = curation.read_verdicts(spark, os.path.join(out, "curation", "verdicts")).collect()
    bad |= {("streaming.curation", b) for b in _verdict_failures(
        v, exact_family, text_ids, "doc_id", "dup_verdict", "match_id")}
    v = imagededup.read_verdicts(
        spark, os.path.join(out, "imagededup", "verdicts")).collect()
    bad |= {("streaming.imagededup", b) for b in _verdict_failures(
        v, inp["image_family"], media_ids, "media_ref", "verdict", "match_ref")}
    return bad


# ---------------------------------------------------------------------------
# per-layer metrics of the traced pass
# ---------------------------------------------------------------------------


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _layers(ctx, inp, res, out, store, first_job, n) -> dict:
    from inform_spark.operators import multimodal

    spark, tracer = ctx.spark, ctx.tracer
    timed = range(WARMUP, WARMUP + n)
    jobs = store.jobs(first_job)
    by_label = defaultdict(list)
    for j in jobs:
        by_label[j.description.rsplit("|", 1)[-1]].append(j)
    layer = {}
    n_rows = {"streaming.dedup": sum(map(len, inp["text"])),
              "streaming.curation": sum(map(len, inp["text"])),
              "streaming.imagededup": sum(map(len, inp["images"]))}
    for name in LAYERS:
        prog = [res[name]["progress"][i] for i in timed]
        trig = [p.durationMs["triggerExecution"] / 1000 for p in prog]
        add = [p.durationMs.get("addBatch", 0) / 1000 for p in prog]
        short = name.split(".")[1]
        kept = spark.read.parquet(os.path.join(out, short, "verdicts"))
        kept_col = "dup_verdict" if short == "curation" else "verdict"
        layer.update({
            f"{name}.batch_s": _med(trig),
            f"{name}.add_batch_s": _med(add),
            f"{name}.framework_s": _med([t - a for t, a in zip(trig, add)]),
            f"{name}.stages_per_batch": _med([
                sum(len(j.stages) for j in by_label[f"{name}:b{p.batchId}"])
                for p in prog
            ]),
            f"{name}.index_rows": spark.read.parquet(
                os.path.join(out, short, "index")).count(),
            f"{name}.kept_share": kept.filter(f"{kept_col} = 'kept'").count()
            / n_rows[name],
        })
    labels = {f"{name}:b{i}" for name in LAYERS for i in timed}
    cc = [s for s in tracer.named("operators.components.cc") if s.batch in labels]
    cc_jobs = [j for j in jobs if j.description.startswith("operators.components.cc|")
               and j.description.rsplit("|", 1)[-1] in labels]
    feats = multimodal.image_features(
        spark.read.parquet(inp["dirs"]["images"])
    ).groupBy("decode_ok").count().collect()
    n_img = sum(r["count"] for r in feats)
    layer.update({
        "operators.components.cc_s": sum(s.dur for s in cc) / n,
        "operators.components.cc_jobs": len(cc_jobs) / n,
        "operators.multimodal.decode_udf_s":
            tr.udf_python_s(spark, "multimodal.py", "extract") / len(inp["images"]),
        "operators.multimodal.images":
            tr.udf_calls(spark, "multimodal.py", "decode_image") / len(inp["images"]),
        "operators.multimodal.decode_ok_share":
            sum(r["count"] for r in feats if r["decode_ok"] == "ok") / n_img,
        "samples": {"batches": n, "files": len(inp["text"])},
    })
    return layer
