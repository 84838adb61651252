"""Tracing for the benchmark's traced run: spans around public calls of
each layer, Spark job descriptions, Spark's status store and the
Python UDF profiler.

Everything here lives outside the program. :class:`Tracer` replaces a
handful of public functions and methods with wrappers for the duration
of the traced segment and puts the originals back afterwards. A wrapper
records one in-memory span (name, start, end, parent, batch) and sets
the Spark job description for the jobs its call launches, so stage and
task metrics can be attributed per layer after the run. PySpark pins
each Python thread to its own JVM thread, so a description set on the
engine's pool threads stays on their jobs.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    batch: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.batch: str | None = None  # label of the batch in progress
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        batch = self.batch
        prev = self.sc.getLocalProperty(DESC)
        self.sc.setJobDescription(f"{name}|{batch}")
        stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            self.sc.setLocalProperty(DESC, prev)
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, parent, batch))

    def mark_batch(self, label: str) -> None:
        """Start a new batch: later spans and the calling thread's jobs
        outside any span carry ``label``."""
        self.batch = label
        self.sc.setJobDescription(f"batch|{label}")

    # -- wrappers ------------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        raw = owner.__dict__[attr]
        orig = raw.__func__ if isinstance(raw, staticmethod) else raw
        wrapped = make(orig)
        if isinstance(raw, staticmethod):
            wrapped = staticmethod(wrapped)
        self._patches.append((owner, attr, raw))
        setattr(owner, attr, wrapped)

    def _wrap_as(self, owner, attr: str, name, batch=None) -> None:
        """Wrap ``owner.attr``; ``name`` is a span name or a function of
        the call's arguments returning one; ``batch``, when given, is a
        function of the arguments returning the batch label the call
        starts."""
        tracer = self

        def make(orig):
            def wrapper(*args, **kwargs):
                label = name(*args) if callable(name) else name
                if batch is not None:
                    tracer.batch = batch(*args)
                with tracer.span(label):
                    return orig(*args, **kwargs)

            wrapper.__wrapped__ = orig
            return wrapper

        self._patch(owner, attr, make)

    def install(self) -> None:
        from inform_spark.operators import bloom, components, multimodal
        from inform_spark.plans import checkpoint
        from inform_spark.streaming import curation, dedup, imagededup

        self._wrap_as(
            checkpoint.SnapshotTable, "append",
            lambda t, *a: f"plans.checkpoint.append:{t.name}",
        )
        self._wrap_as(
            checkpoint.SnapshotTable, "append_rows",
            lambda t, *a: f"plans.checkpoint.append_rows:{t.name}",
        )
        self._wrap_as(checkpoint.CrawlCheckpoint, "commit", "plans.checkpoint.commit")
        self._wrap_as(checkpoint.CrawlCheckpoint, "restore", "plans.checkpoint.restore")
        self._wrap_as(bloom.ShardedBloom, "build", "operators.bloom.build")
        self._wrap_as(bloom.ShardedBloom, "add", "operators.bloom.add")
        self._wrap_as(bloom, "bloom_partition", "operators.bloom.partition")
        self._wrap_as(components, "connected_components", "operators.components.cc")
        self._wrap_as(multimodal, "image_features", "operators.multimodal.image_features")
        for mod, layer in ((dedup, "streaming.dedup"),
                           (curation, "streaming.curation"),
                           (imagededup, "streaming.imagededup")):
            self._wrap_as(
                mod, "process_batch", f"{layer}.process_batch",
                batch=lambda df, batch_id, *a, layer=layer: f"{layer}:b{batch_id}",
            )

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)
        self.sc.setLocalProperty(DESC, None)

    # -- span queries ----------------------------------------------------------
    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans if c.parent == span.id
        )
        return span.dur - union_length(kids)

    def summary(self) -> dict:
        """Per span name: call count, total duration and total self time."""
        out: dict[str, dict] = {}
        for s in self.spans:
            e = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            e["count"] += 1
            e["total_s"] += s.dur
            e["self_s"] += self.self_time(s)
        return out


def union_length(intervals) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark's status store (kept with the UI off)
# ---------------------------------------------------------------------------


@dataclass
class Stage:
    id: int
    tasks: int
    run_s: float  # executor run time summed over tasks
    start: float  # first task launch, epoch seconds
    end: float
    out_bytes: int
    shuffle_write_bytes: int


@dataclass
class Job:
    id: int
    description: str
    submitted: float  # epoch seconds
    stages: list[Stage]


class StatusStore:
    """Spark's status store (kept with the UI off), read as JSON:
    one py4j call per listing instead of one per field."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, value):
        return json.loads(self._mapper.writeValueAsString(value))

    def last_job_id(self) -> int:
        return max((j["jobId"] for j in self._json(self._store.jobsList(None))),
                   default=-1)

    def jobs(self, after_id: int = -1) -> list[Job]:
        """Every job with id > ``after_id``, with its completed stages."""
        stages = {
            s["stageId"]: Stage(
                s["stageId"], s["numCompleteTasks"], s["executorRunTime"] / 1000,
                (s.get("firstTaskLaunchedTime") or s["submissionTime"]) / 1000,
                s["completionTime"] / 1000, s["outputBytes"],
                s["shuffleWriteBytes"],
            )
            for s in self._json(self._store.stageList(
                None, False, False, self._no_quantiles, None))
            if s["status"] == "COMPLETE"
        }
        return sorted(
            (
                Job(j["jobId"], j.get("description") or "",
                    j["submissionTime"] / 1000,
                    [stages[i] for i in j["stageIds"] if i in stages])
                for j in self._json(self._store.jobsList(None))
                if j["jobId"] > after_id
            ),
            key=lambda j: j.id,
        )


# ---------------------------------------------------------------------------
# Python UDF profiler (spark.sql.pyspark.udf.profiler=perf)
# ---------------------------------------------------------------------------


def profiler(spark, on: bool) -> None:
    if on:
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    else:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")


def udf_python_s(spark, file: str, func: str) -> float:
    """Cumulative Python time of UDF function ``func`` (defined in a file
    named ``file``) over every profiled UDF execution so far."""
    results = spark._profiler_collector._perf_profile_results
    total = 0.0
    for st in results.values():
        for (fname, _line, name), (_cc, _nc, _tt, ct, _callers) in st.stats.items():
            if name == func and fname == file:
                total += ct
    return total


def udf_calls(spark, file: str, func: str) -> int:
    """Calls of function ``func`` (defined in ``file``) over every profiled
    UDF execution so far."""
    results = spark._profiler_collector._perf_profile_results
    return sum(
        nc
        for st in results.values()
        for (fname, _line, name), (_cc, nc, _tt, _ct, _callers) in st.stats.items()
        if name == func and fname == file
    )
