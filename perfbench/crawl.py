"""The ``crawl_fifo`` workload: a multi-host FIFO crawl with the bloom
filter on, over the fat-page synthetic web.

The crawl is a closed loop with one client, the engine: it starts batch
k+1 only after batch k's checkpoint commit. Batch boundaries are those
commits; the untraced run records only their times.

One run:

1. set-up: fixture generation, engine construction and ``WARMUP``
   batches (the first batches of a process carry JVM and Python-worker
   warm-up and visit only home and section pages);
2. the timed segment: ``n_timed`` equal batches in the same
   ``CrawlEngine.run`` call, so the pipelined bloom fold-in overlaps the
   next batch as it does in production;
3. correctness checks against ``reference_impl.crawl_sequential``.

The traced run adds ``RESTARTS`` restarts after the timed segment, each a
fresh ``CrawlEngine`` resuming from the committed checkpoint up to the
point where it could run its next batch (``run(resume=True,
max_batches=0)``: restore plus seen-filter rebuild), for the checkpoint
restore and bloom build layers.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass

import fixtures
import tracing as tr

WARMUP = 3
RESTARTS = 5  # traced run only


@dataclass(frozen=True)
class CrawlSpec:
    hosts: int
    pages_per_host: int
    content_scale: int
    batch_size: int
    nominal_batch_s: float  # sizes the timed segment from --seconds


FIFO = CrawlSpec(hosts=8, pages_per_host=80, content_scale=8,
                 batch_size=50, nominal_batch_s=3.5)
DEFAULT_DELAY_MS = 1000


def n_timed(spec: CrawlSpec, seconds: float) -> int:
    return max(3, round(seconds / spec.nominal_batch_s))


def _config(spec: CrawlSpec, hosts: list[int]):
    from inform_spark.plans.crawl import CrawlConfig
    from inform_spark.sources.pages import host_name

    return CrawlConfig(
        seeds=[f"https://{host_name(h)}/" for h in hosts],
        limit=10**9,
        max_queue_size=None,
        use_bloom=True,
        batch_size=spec.batch_size,
        default_delay_ms=DEFAULT_DELAY_MS,
    )


class CommitClock:
    """Records the wall time of every checkpoint commit of one engine."""

    def __init__(self, engine, on_commit=None):
        self.times: list[float] = []  # epoch seconds
        catalog = engine.catalog

        def commit(state):
            # class lookup at call time, so a traced segment's wrapper runs
            type(catalog).commit(catalog, state)
            self.times.append(time.time())
            if on_commit is not None:
                on_commit(len(self.times))

        engine.catalog.commit = commit

    def walls(self, batches) -> list[float]:
        """Walls of the given batches (commit 0 is the seed commit, commit
        k+1 ends batch k)."""
        t = self.times
        return [t[k + 1] - t[k] for k in batches]


def _hosts(spec: CrawlSpec, seed: int) -> list[int]:
    return [fixtures.host_offset(seed) + i for i in range(spec.hosts)]


def _start(spark, spec: CrawlSpec, hosts: list[int], ck: str, pages=None):
    """Set-up up to the first batch: fixture (generated unless given),
    dimensions, engine."""
    from inform_spark.plans.crawl import CrawlEngine

    t = time.time()
    if pages is None:
        pages = fixtures.pages_df(
            spark, hosts[0], len(hosts), spec.pages_per_host, spec.content_scale
        )
    pages = pages.persist()
    n_pages = pages.count()
    fixture_s = time.time() - t
    robots = fixtures.robots_df(spark, hosts)
    eng = CrawlEngine(spark, pages, robots, _config(spec, hosts),
                      checkpoint_dir=ck)
    return pages, n_pages, fixture_s, robots, eng


def _run_batches(eng, total: int):
    summary = eng.run(max_batches=total)
    if summary.batches != total:
        raise RuntimeError(
            f"frontier ran dry: {summary.batches} of {total} batches"
        )


def run(ctx) -> dict:
    from inform_spark.plans.crawl import CrawlEngine

    spec = FIFO
    spark, seed, tracer = ctx.spark, ctx.seed, ctx.tracer
    n = n_timed(spec, ctx.seconds)
    t_ready = time.time()
    ck = os.path.join(ctx.work, "checkpoint")
    hosts = _hosts(spec, seed)
    pages, n_pages, fixture_s, robots, eng = _start(spark, spec, hosts, ck)

    # traced run: the n batches after the warm-up are traced and untraced
    # in turn, so both halves see the same warm-up trend; the tracing
    # overhead compares the two halves
    store = tr.StatusStore(spark) if tracer else None
    timed = list(range(WARMUP, WARMUP + n))
    traced = []
    if tracer:
        timed, traced = timed[1::2], timed[0::2]
    first_job = []
    fp = BloomCounts(eng)

    def on_commit(k: int) -> None:  # commit k ends batch k - 2
        ctx.done = k - 1
        if tracer is None:
            return
        tracer.uninstall()
        tr.profiler(spark, False)
        if k - 1 in traced:
            if not first_job:
                first_job.append(store.last_job_id())
                spark.profile.clear()
            tr.profiler(spark, True)
            tracer.install()
            fp.install(tracer)
            tracer.mark_batch(f"b{k - 1}")

    clock = CommitClock(eng, on_commit)
    total = WARMUP + n
    if tracer:
        from inform_spark.operators import bloom

        # the pipelined fold-in of batch k runs during batch k+1, traced
        # or not, so its wrapper stays on for the whole crawl. Only the
        # warm-up batches admit new urls on this link graph (the section
        # pages link every leaf), so the fold-ins measured are theirs.
        adds = tr.Tracer(spark)
        adds._wrap_as(bloom.ShardedBloom, "add", "operators.bloom.add")
    try:
        _run_batches(eng, total)
    finally:
        if tracer:
            adds.uninstall()
    walls = clock.walls(timed)
    setup_s = clock.times[WARMUP] - t_ready
    phase = {"setup": setup_s, "batches": clock.times[-1] - clock.times[WARMUP]}

    attempts = _attempts(eng)
    per_batch = defaultdict(int)
    for a in attempts:
        per_batch[a["batch"]] += 1
    out = {
        "walls": walls,
        "items": sum(per_batch[b] for b in timed),
        "setup_s": setup_s,
        "batches": total,
        "layer": {"sources.pages.fixture_s": fixture_s},
        "detail": {
            "first_host": hosts[0], "fixture_pages": n_pages,
            "timed_batches": timed,
            "pages_per_batch": [per_batch[b] for b in sorted(per_batch)],
            "phase_s": phase,
        },
    }
    if tracer:
        t_phase = time.time()
        tracer.install()
        tracer.mark_batch("restarts")
        resume = []
        for _ in range(RESTARTS):
            t = time.time()
            CrawlEngine(spark, pages, robots, _config(spec, hosts),
                        checkpoint_dir=ck).run(resume=True, max_batches=0)
            resume.append(time.time() - t)
        tracer.uninstall()
        phase["restarts"] = time.time() - t_phase
        t_phase = time.time()
        traced_walls = clock.walls(traced)
        out["layer"].update(_layers(ctx, eng, store, clock, traced, first_job[0]))
        out["layer"].update({
            "sources.pages.fixture_mb": pages.selectExpr(
                "coalesce(sum(length(html)), 0) AS b").first()["b"] / 1e6,
            "operators.bloom.fp_share": fp.share(),
            "operators.bloom.add_s": _med([s.dur for s in adds.spans]),
            "bench.trace_overhead":
                statistics.median(traced_walls) / statistics.median(walls) - 1,
        })
        out["detail"].update(traced_walls_s=traced_walls, resume_walls_s=resume,
                             bloom_adds=len(adds.spans))
        phase["layers"] = time.time() - t_phase
    t_phase = time.time()
    out["failed_batches"] = sorted(check(eng, spec, hosts, attempts, per_batch))
    phase["check"] = time.time() - t_phase
    if tracer:
        # the one-slot baseline crawls this fixture
        pages.write.parquet(os.path.join(ctx.work, "fixture"))
    pages.unpersist()
    return out


def scaling_eff(ctx, res: dict) -> float:
    """Pages/s of the traced run's untraced timed batches (``res``,
    ``ctx.slots`` task slots) divided by ``ctx.slots`` x pages/s of the
    same batches of the same crawl on ``ctx.spark``, a one-slot session.
    The one-slot crawl reads the fixture the traced run wrote rather than
    generating it again on one core."""
    from pyspark.sql import functions as F

    spec, spark = FIFO, ctx.spark
    batches = res["detail"]["timed_batches"]
    pages, _, _, _, eng = _start(
        spark, spec, _hosts(spec, ctx.seed),
        os.path.join(ctx.work, "checkpoint-1slot"),
        spark.read.parquet(os.path.join(ctx.work, "fixture")),
    )
    clock = CommitClock(eng)
    _run_batches(eng, max(batches) + 1)
    items = eng.seen().filter(F.col("attempted_in_batch").isin(batches)).count()
    pages.unpersist()
    one_slot = items / sum(clock.walls(batches))
    return res["items"] / sum(res["walls"]) / (ctx.slots * one_slot)


class BloomCounts:
    """Traced run only: for each bloom probe, the maybe-seen candidates and
    how many of them the exact anti-join then admits (the filter's false
    positives). The probe's outputs are kept and counted after the run,
    against the frontier snapshot the engine's anti-join read, so the
    counting adds no job to any batch."""

    def __init__(self, eng):
        self.eng = eng
        self.probes: list[tuple] = []

    def install(self, tracer) -> None:
        from inform_spark.operators import bloom

        probes, eng = self.probes, self.eng

        def make(orig):
            def bloom_partition(df, flt, persist=False):
                out = orig(df, flt, persist)
                probes.append(
                    (out[0], eng.catalog.tables["frontier"].read().select("url"))
                )
                return out

            return bloom_partition

        tracer._patch(bloom, "bloom_partition", make)

    def share(self) -> float:
        maybe = admitted = 0
        for m, frontier in self.probes:
            maybe += m.count()
            admitted += m.join(frontier, "url", "left_anti").count()
        return admitted / maybe if maybe else 0.0


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------


def _attempts(eng) -> list[dict]:
    from inform_spark.functions.urls import url_host

    rows = eng.seen().select(
        "url", "status", "crawl_rank", "attempted_in_batch"
    ).collect()
    return sorted(
        (
            {"url": r["url"], "host": url_host(r["url"]), "status": r["status"],
             "rank": r["crawl_rank"], "batch": r["attempted_in_batch"]}
            for r in rows
        ),
        key=lambda a: a["rank"],
    )


def check(eng, spec, hosts, attempts, per_batch) -> set[int]:
    """Batches that fail a check. Per host, the engine's attempt order and
    statuses must be the sequential oracle's (run to the same count) and
    every document's span sequence must equal the oracle's. Crawl ranks
    must be 1..n without gaps."""
    from inform_spark.reference_impl import crawl_sequential
    from inform_spark.sources.pages import (generate_host_pages,
                                            generate_robots, host_name)

    bad: set[int] = set()
    if [a["rank"] for a in attempts] != list(range(1, len(attempts) + 1)):
        bad.update(per_batch)
    docs = {
        r["url"]: r
        for r in eng.documents().select("url", "doc_id", "spans").collect()
    }
    by_host = defaultdict(list)
    for a in attempts:
        by_host[a["host"]].append(a)
    for h in hosts:
        mine = by_host.get(host_name(h), [])
        oracle = crawl_sequential(
            generate_host_pages(h, spec.pages_per_host, None, spec.content_scale),
            [generate_robots(h)],
            f"https://{host_name(h)}/",
            limit=len(mine),
        )
        for i, a in enumerate(mine):
            url = a["url"]
            if i >= len(oracle.order) or oracle.order[i] != url or \
                    oracle.seen[url] != a["status"]:
                bad.add(a["batch"])
                continue
            od, d = oracle.documents.get(url), docs.get(url)
            if (od is None) != (d is None):
                bad.add(a["batch"])
            elif d is not None and (
                d["doc_id"] != od["doc_id"]
                or [(s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in d["spans"]]
                != [(s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in od["spans"]]
            ):
                bad.add(a["batch"])
    return bad


# ---------------------------------------------------------------------------
# per-layer metrics of the traced segment
# ---------------------------------------------------------------------------


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _layers(ctx, eng, store, clock, batches, first_job) -> dict:
    from pyspark.sql import functions as F

    tracer, slots, n = ctx.tracer, ctx.slots, len(batches)
    walls = clock.walls(batches)
    bounds = [(clock.times[k], clock.times[k + 1]) for k in batches]
    all_jobs = store.jobs(first_job)

    def in_batch(job, i):
        s, e = bounds[i]
        return s <= job.submitted < e

    jobs_b = [[j for j in all_jobs if in_batch(j, i)] for i in range(n)]
    stages_b = [[s for j in js for s in j.stages] for js in jobs_b]
    task_s = [sum(s.run_s for s in st) for st in stages_b]
    busy = [
        tr.union_length((max(s.start, bounds[i][0]), min(s.end, bounds[i][1]))
                        for s in stages_b[i] if s.start and s.end)
        for i in range(n)
    ]

    def by_desc(prefix):
        per = defaultdict(list)
        for js in jobs_b:
            for j in js:
                if j.description.startswith(prefix):
                    per[j.description.split("|")[1]].extend(j.stages)
        return list(per.values())

    def span_metric(name):
        return [s.dur for s in tracer.named(name) if s.batch in labels]

    labels = {f"b{k}" for k in batches}
    att = by_desc("plans.checkpoint.append:attempts")
    fro = by_desc("plans.checkpoint.append:frontier")
    mb = 1e6
    docs_rendered = eng.documents().filter(
        F.col("batch_id").isin(list(batches))
    ).count()
    # restores and builds happen in the restarts
    restore = [s.dur for s in tracer.named("plans.checkpoint.restore")]
    builds = [s.dur for s in tracer.named("operators.bloom.build")]
    return {
        "plans.crawl.jobs_per_batch": _med([len(js) for js in jobs_b]),
        "plans.crawl.stages_per_batch": _med([len(st) for st in stages_b]),
        "plans.crawl.tasks_per_batch": _med([sum(s.tasks for s in st) for st in stages_b]),
        "plans.crawl.task_s_per_batch": _med(task_s),
        "plans.crawl.core_occupancy": _med([t / (slots * w) for t, w in zip(task_s, walls)]),
        "plans.crawl.driver_gap_s": _med([w - b for w, b in zip(walls, busy)]),
        "plans.checkpoint.append_attempts_s": _med(span_metric("plans.checkpoint.append:attempts")),
        "plans.checkpoint.append_attempts_task_s": _med([sum(s.run_s for s in st) for st in att]),
        "plans.checkpoint.append_attempts_out_mb": _med([sum(s.out_bytes for s in st) / mb for st in att]),
        "plans.checkpoint.append_frontier_s": _med(span_metric("plans.checkpoint.append:frontier")),
        "plans.checkpoint.append_frontier_task_s": _med([sum(s.run_s for s in st) for st in fro]),
        "plans.checkpoint.append_frontier_shuffle_mb": _med(
            [sum(s.shuffle_write_bytes for s in st) / mb for st in fro]),
        "plans.checkpoint.commit_s": _med(span_metric("plans.checkpoint.commit")),
        "plans.checkpoint.restore_s": _med(restore),
        "plans.checkpoint.files_written": _files_written(eng, batches),
        "functions.html.render_udf_s": tr.udf_python_s(ctx.spark, "render.py", "extract_render") / n,
        "functions.html.docs_rendered": docs_rendered / n,
        "operators.bloom.build_s": _med(builds),
        "samples": {"batches": n, "restarts": len(restore), "bloom_builds": len(builds)},
    }


def _files_written(eng, batches) -> float:
    """Data files the checkpoint tables gained per batch."""
    labels = {f"b{b}" for b in batches}
    count = 0
    for table in eng.catalog.tables.values():
        for d in os.listdir(table.data_dir):
            if d.split("-")[0] in labels:
                count += sum(
                    f.endswith(".parquet")
                    for f in os.listdir(os.path.join(table.data_dir, d))
                )
    return count / max(1, len(labels))

