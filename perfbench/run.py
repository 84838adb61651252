"""Benchmark of the inform_spark crawl engine and streaming ingest loops.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_fifo --seed 1 --seconds 14 --trace 0

Workloads (see BENCHMARK.json): ``crawl_fifo`` and ``ingest_stream``.
With ``--trace 0`` the last stdout line is a JSON
object holding every end-to-end metric; with ``--trace 1`` it holds every
per-layer metric of the traced run. The line before it is a JSON object
with the run's details: samples behind each median, raw batch times,
load average, versions and the source hash. The command checks the
program's outputs and exits non-zero when a check fails or a batch
raises; a batch that raises still gets a result line, with
``correct: false``.

All files the run writes go under ``.perfbench/`` in the checkout. A run
removes its own work directory when it ends correct and keeps it
otherwise.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SLOTS = 4  # Spark task slots: local[4]


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    slots: int
    tracer: object | None
    done: int = 0  # batches run so far; a batch that raises is not counted


def _isolate(work: Path) -> None:
    """Keep every temporary file of the run inside its work directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")


def _source_hash() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "inform_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    """HEAD of the checkout, when the checkout is itself a git work tree."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or Path(lines[0]) != ROOT:
        return None
    return lines[1]


def _session(work: Path, traced: bool, master: str):
    from inform_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if traced:
        # the status store must keep every job and stage of the run
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
        })
    spark = get_spark(
        app_name="perfbench", master=master, shuffle_partitions=SLOTS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _cpu_times() -> list[int] | None:
    """Machine-wide CPU jiffies (user, nice, system, idle, iowait, irq,
    softirq, steal), or None where /proc/stat does not exist."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def _steal_share(before, after) -> float | None:
    """Share of the run's busy CPU time the hypervisor gave to other
    guests: a co-tenant noise indicator next to the load average."""
    if before is None or after is None:
        return None
    d = [b - a for a, b in zip(before, after)]
    busy = sum(d) - d[3] - d[4]
    return d[7] / busy if busy > 0 else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_fifo", "ingest_stream"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not (ROOT / "inform_spark" / "__init__.py").is_file():
        print("inform_spark package not found next to the benchmark",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    _isolate(work)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import crawl
    import ingest
    import pyarrow
    import pyspark
    import tracing as tr

    load_before, cpu_before = os.getloadavg(), _cpu_times()
    t0 = time.time()
    spark = _session(work, args.trace == 1, f"local[{SLOTS}]")
    session_start_s = time.time() - t0
    ctx = Ctx(spark, args.seed, args.seconds, str(work), SLOTS,
              tr.Tracer(spark) if args.trace else None)
    try:
        if args.workload == "ingest_stream":
            res = ingest.run(ctx)
        else:
            res = crawl.run(ctx)
        if args.trace and args.workload == "crawl_fifo":
            ctx.spark.stop()  # same JVM, a one-slot context
            ctx.spark = _session(work, False, "local[1]")
            res["layer"]["plans.crawl.scaling_eff"] = crawl.scaling_eff(ctx, res)
    except Exception:
        traceback.print_exc()
        res = None
    finally:
        _stop(ctx.spark)
    if res is None:
        # the batch that raised counts as attempted and failed
        print(json.dumps({"correct": False, "attempted": ctx.done + 1,
                          "failed": 1, "metrics": {}}))
        return 1
    load_after, cpu_after = os.getloadavg(), _cpu_times()

    walls = res["walls"]
    e2e = {
        "setup_s": res["setup_s"],
        "items_per_s": res["items"] / sum(walls),
        "batch_p50_s": statistics.median(walls),
    }
    failed = len(res["failed_batches"])
    attempted = res["batches"]
    if args.trace:
        layer = dict(res["layer"])
        samples = layer.pop("samples", {})
        layer["session.start_s"] = session_start_s
        res["detail"]["spans"] = ctx.tracer.summary()
        metrics = {
            m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in bench["per_layer"]
        }
    else:
        samples = {}
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
            for m in bench["end_to_end"]
        }
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "end_to_end": {
            m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
            for m in bench["end_to_end"]
        },
        "failed_share": failed / attempted,
        "failed_batches": res["failed_batches"],
        "samples": {
            "batch_p50_s": len(walls), "items_per_s": len(walls),
            "setup_s": 1, **samples,
        },
        "batch_walls_s": walls,
        "session.start_s": session_start_s,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_steal_share": _steal_share(cpu_before, cpu_after),
        "nproc": os.cpu_count(), "task_slots": SLOTS,
        "commit": _commit(), "source_sha256": _source_hash(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        **res["detail"],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    if failed:
        return 1
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()  # .perfbench/, unless another run is using it
    except OSError:
        pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
