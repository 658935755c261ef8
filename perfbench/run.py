"""grafink-spark benchmark: one workload, one process, one line of JSON.

    python3 perfbench/run.py --workload ingest_read --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The program is the engine in that
checkout (``grafink_spark``); the benchmark builds nothing. Inputs are
generated from ``--seed``. Everything a run writes goes under
``.perfbench-out/`` in the checkout: a work directory removed at the
end, and one JSON record per run in ``.perfbench-out/records/`` (seed,
core count, Spark version, every sample, a memory-bandwidth probe at
start and end and the hypervisor's steal share over the run).

With ``--trace 0`` the last line's metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics, from
spans around engine calls joined with Spark's event log, and the run
also prints its tracing overhead: its own ``batch_s`` and
``query_p50_ms`` against those of the latest untraced run of the same
workload and seed in ``.perfbench-out/records/``.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_read", "operator_mix")
DRIVER_HEAP = "2g"


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    work: str
    nproc: int
    tracer: object

    def peak_rss_mb(self) -> float:
        """Peak resident set so far of this process plus the JVM."""
        return vm_hwm_mb("self") + vm_hwm_mb(self.spark.sparkContext._gateway.proc.pid)


def memweather() -> dict:
    """First-touch and copy bandwidth of a 64 MB buffer: a host whose
    page faults are slow makes every timing near the probe suspect."""
    size = 1 << 26
    t = time.perf_counter()
    a = np.ones(size, dtype=np.uint8)
    fresh = size / max(time.perf_counter() - t, 1e-9) / 1e9
    b = np.ones(size, dtype=np.uint8)
    t = time.perf_counter()
    np.copyto(b, a)
    copy = size / max(time.perf_counter() - t, 1e-9) / 1e9
    return {"fresh_gbps": fresh, "copy_gbps": copy}


def host_cpu() -> list[int]:
    """The host's cumulative CPU jiffies (user, nice, system, idle,
    iowait, irq, softirq, steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(start: list[int], end: list[int]) -> float:
    """Share of the host's CPU time between two readings that the
    hypervisor gave to other guests: a run with a high share was slowed
    by its neighbours, not by the program."""
    delta = [b - a for a, b in zip(start, end)]
    return 100.0 * delta[7] / max(sum(delta), 1)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current resident set."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def start_session(work: str, nproc: int, event_dir: str | None):
    from grafink_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: the JVM's peak RSS then does not depend on
        # when its collector decided to grow the heap
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                # Spark 4.1 compresses with zstd by default; the parser is stdlib json
                "spark.eventLog.compress": "false",
                # one plain file, not Spark 4's default rolled-log directory
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("grafink-perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from /proc."""
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for task in tasks:
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                children = [int(c) for c in f.read().split()]
        except OSError:
            continue
        for c in children:
            out += [c, *descendants(c)]
    return out


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM and the Python workers it
    forked to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in workers:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")

    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import pyspark

        import grafink_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    weather_start = dict(memweather(), cpu=host_cpu())
    # the probe's buffers are the benchmark's, not the program's
    reset_peak_rss()
    out = os.path.join(os.getcwd(), ".perfbench-out")
    work = os.path.join(out, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, sub))
    # everything Spark and Python spill to disk stays in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    try:
        return _run(args, work, out, nproc, t_start, weather_start, pyspark.__version__)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, out: str, nproc: int, t_start: float, weather_start: dict, spark_version: str) -> int:
    import layers
    import tracing

    workload = importlib.import_module(args.workload)
    event_dir = os.path.join(work, "events") if args.trace else None
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work, nproc, event_dir)
        session_done = time.perf_counter()
        session_s = session_done - t
        tracer = None
        if args.trace:
            from instrument import instrument

            tracer = tracing.Tracer(spark.sparkContext)
            instrument(tracer)
        ctx = Context(spark, args.seed, args.seconds, work, nproc, tracer)
        res = workload.run(ctx)
        setup_s = session_done - t_start + res["setup_s"]
    finally:
        if spark is not None:
            stop_session(spark)

    overhead = None
    if args.trace:
        tracer.restore()
        index = tracing.SpanIndex(tracer.spans, tracing.read_event_log(_single(event_dir)))
        extra = dict(res["layer_extra"], **{"session.start_s": session_s})
        extra.update({f"trace.{k}": v for k, v in res["metrics"].items()})
        metrics = layers.layer_metrics(index, res["timed_since"], extra)
        units = dict(layers.LAYER_METRICS)
        overhead = tracing_overhead(out, args.workload, args.seed, res["metrics"])
    else:
        metrics = dict(res["metrics"], setup_s=setup_s, peak_rss_mb=res["peak_rss_mb"])
        units = END_TO_END_UNITS

    for problem in res["problems"]:
        print(f"# check failed: {problem}", file=sys.stderr)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "spark_version": spark_version,
        "python": sys.version.split()[0],
        "wall_s": time.perf_counter() - t_start,
        "setup_s": setup_s,
        "session_start_s": session_s,
        "peak_rss_mb": res["peak_rss_mb"],
        "trace_overhead_pct": overhead,
        "memweather": {"start": weather_start, "end": memweather()},
        "steal_pct": steal_pct(weather_start["cpu"], host_cpu()),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "problems": res["problems"],
        "metrics": metrics,
        "samples": res["record"],
    }
    os.makedirs(os.path.join(out, "records"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    with open(os.path.join(out, "records", name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    if args.trace:
        if overhead is None:
            print(f"# tracing overhead: no untraced {args.workload} run of seed {args.seed} recorded; run --trace 0 first")
        else:
            print("# tracing overhead vs the untraced run of this seed: " + ", ".join(f"{k} {v:+.1f}%" for k, v in overhead.items()))
    result = {
        "correct": res["failed"] == 0 and not res["problems"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


END_TO_END_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "batch_s": "s",
    "query_p50_ms": "ms",
}


def tracing_overhead(out: str, workload: str, seed: int, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end figures, as a share of the
    untraced ones, against the latest untraced record of the same
    workload and seed; None when there is none."""
    found = glob.glob(os.path.join(out, "records", f"{workload}-seed{seed}-trace0-*.json"))
    if not found:
        return None
    with open(max(found, key=os.path.getmtime)) as f:
        untraced = json.load(f)["metrics"]
    return {k: 100.0 * (v - untraced[k]) / untraced[k] for k, v in traced.items()}


def _single(event_dir: str) -> str:
    """The one application log file."""
    entries = [e for e in os.listdir(event_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {entries}")
    return os.path.join(event_dir, entries[0])


if __name__ == "__main__":
    sys.exit(main())
