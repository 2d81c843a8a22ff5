"""Closed-loop benchmark of the ER engine: one client, ops back to back on
local[nproc].

    python3 perfbench/run.py --workload er_batch --seed 42 --seconds 1 --trace 0

Set-up (timed as `setup_s`): Spark session start, input generation from the
seed and the input write. Then ops run back to back until `--seconds` have
passed: at least one, and none that would end past the deadline by the
median op so far. Every op's output is checked; a failed check or an
exception counts in `failed`.

--trace 0 prints the end-to-end metrics. --trace 1 instead runs one op with
spans around each layer, Spark jobs tagged by layer with setJobGroup and the
Spark event log on, and prints the per-layer metrics. The last line of
stdout is the JSON result. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "entity_matching_in_online_retail_spark"
LAYERS = (
    "normalize", "similarity", "blocking", "model", "features",
    "cluster", "evaluate", "append", "compact", "curate",
)
LAYER_UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "failed_tasks": "count", "task_busy_s": "s", "shuffle_bytes": "B",
    "spill_bytes": "B",
}
COUNT_UNITS = {
    "blocking.candidate_pairs": "count",
    "blocking.pairs_per_record": "ratio",
    "features.pairs_per_s": "1/s",
    "features.gate_survival": "ratio",
    "cluster.edges": "count",
    "cluster.clusters": "count",
    "evaluate.pairwise_f1": "ratio",
    "catalog.bytes_written": "B",
    **{f"catalog.{s}.bytes_written": "B" for s in (
        "offers", "attrs", "idf", "pairs", "block_keys", "scores", "clusters",
    )},
    "append.new_records": "count",
    "append.merges": "count",
    "append.bytes_written": "B",
    "compact.bytes_rewritten": "B",
    "curate.kept_frac": "ratio",
    "op.wall_s": "s",
    "op.unattributed_s": "s",
    "op.failed_frac": "ratio",
    "trace.overhead_s": "s",
}
DRIVER_MEM = "2g"


def per_layer_metrics() -> dict[str, str]:
    """Name -> unit of every metric a traced run prints; a layer or count
    the workload does not reach reads 0."""
    layers = {f"{l}.{k}": u for l in LAYERS for k, u in LAYER_UNITS.items()}
    return {**layers, **COUNT_UNITS}


def launch_env(work: Path) -> None:
    """Launch hygiene: everything the JVM, Spark and the Python workers
    write stays under `work`, and the workers can import the package."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(REPO))


def start_spark(work: Path, cores: int, trace: bool):
    from entity_matching_in_online_retail_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            "-Dio.netty.tryReflectionSetAccessible=true "
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
        ),
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process this one
    started (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    from tracing import descendants

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        os.kill(pid, signal.SIGKILL)


def measure(wl, seconds: float):
    """Run ops back to back for `seconds`. Returns (op walls, op CPU
    seconds, records processed, largest stored output in bytes, failed ops,
    error messages)."""
    from tracing import log, tree_cpu_s, vm_cpu_jiffies

    walls: list[float] = []
    cpus: list[float] = []
    records = stored = failed = 0
    errors: list[str] = []
    start = time.perf_counter()
    while not walls or (
        time.perf_counter() - start + statistics.median(walls) <= seconds
    ):
        cpu0, (want0, steal0) = tree_cpu_s(os.getpid()), vm_cpu_jiffies()
        t0 = time.perf_counter()
        try:
            out = wl.op()
        except Exception as e:  # a failed op is counted, the loop goes on
            out = None
            errors.append(f"{type(e).__name__}: {e}")
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s(os.getpid()) - cpu0)
        want1, steal1 = vm_cpu_jiffies()
        log(f"op wall {walls[-1]:.2f}s cpu {cpus[-1]:.2f}s, "
            f"{(steal1 - steal0) / max(want1 - want0, 1):.0%} of CPU time stolen")
        if out is None or out.errors:
            failed += 1
        if out is not None:
            records += out.records
            stored = max(stored, out.stored_bytes)
            errors += out.errors
    return walls, cpus, records, stored, failed, errors


def layer_metrics(tracers, event_counts: dict) -> dict[str, float]:
    m: dict[str, float] = {}
    for layer in LAYERS:
        m[f"{layer}.wall_s"] = sum(t.wall_s.get(layer, 0.0) for t in tracers)
        m[f"{layer}.self_s"] = sum(t.self_s.get(layer, 0.0) for t in tracers)
        for k, v in event_counts.get(layer, {}).items():
            m[f"{layer}.{k}"] = v
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (REPO / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE} not found under {REPO}", file=sys.stderr)
        return 2
    work = REPO / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    launch_env(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run is using it
            pass


def run(args, work: Path) -> int:
    from tracing import (
        HARNESS_GROUP, RssSampler, Tracer, find_event_log, log, parse_event_log,
        tree_cpu_s,
    )
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload}")
        return 2
    cores = len(os.sched_getaffinity(0))
    trace = bool(args.trace)
    with RssSampler() as rss:
        t0, cpu0 = time.perf_counter(), tree_cpu_s(os.getpid())
        spark = start_spark(work, cores, trace)
        try:
            sc = spark.sparkContext
            sc.setJobGroup(HARNESS_GROUP, HARNESS_GROUP)
            wl = WORKLOADS[args.workload](spark, str(work), args.seed)
            wl.setup()
            setup_s = tree_cpu_s(os.getpid()) - cpu0
            log(f"setup wall {time.perf_counter() - t0:.2f}s cpu {setup_s:.2f}s")
            if trace:
                op_tracer, extras_tracer = Tracer(sc), Tracer(sc)
                traced = wl.op(op_tracer)
                log(f"traced op {op_tracer.wall_s['op']:.2f}s")
                counts, extra_errors = wl.trace_extras(extras_tracer)
                log(f"trace extras {dict(extras_tracer.wall_s)}")
                errors = traced.errors + extra_errors
                attempted, failed = 1, int(bool(errors))
            else:
                walls, cpus, records, stored, failed, errors = measure(wl, args.seconds)
                attempted = len(walls)
        finally:
            stop_spark(spark)
    for e in errors:
        log(f"check failed: {e}")

    if trace:
        for tracer in (op_tracer, extras_tracer):
            log("spans " + json.dumps(tracer.span_records()))
        events = parse_event_log(find_event_log(str(work / "eventlog")))
        metrics = layer_metrics((op_tracer, extras_tracer), events)
        metrics.update(traced.counts)
        metrics.update(counts)
        metrics.update({
            "op.wall_s": op_tracer.wall_s["op"],
            "op.unattributed_s": op_tracer.self_s["op"],
            "op.failed_frac": failed / attempted,
            "trace.overhead_s": op_tracer.overhead_s + extras_tracer.overhead_s,
        })
        result_metrics = {
            k: {"value": metrics.get(k, 0), "unit": unit}
            for k, unit in per_layer_metrics().items()
        }
    else:
        result_metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_cpu_s": {"value": statistics.median(cpus), "unit": "s"},
            "records_per_cpu_s": {"value": records / sum(cpus), "unit": "1/s"},
            "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
            "stored_bytes_per_input_byte": {
                "value": stored / wl.input_bytes, "unit": "B/B",
            },
        }
    print(json.dumps({
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": result_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
