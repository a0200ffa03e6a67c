#!/usr/bin/env python3
"""Benchmark of the uncp_spark dedup engine (see perfbench/README.md).

    python3 perfbench/run.py --workload batch_dupdense --seed 1 --seconds 5 --trace 0

Run from the repository root. Prints one line per metric, then the result
as one JSON object on the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics; the traced run also writes its spans (with self
time) to ``.perfbench_out/``.

Everything the run writes stays under the repository root: the work
directory ``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_dupdense", "stream_drops")


def host_fit() -> dict[str, str]:
    """Session sizing derived from the host it runs on: every core the process may
    use, and a driver heap of a quarter of physical memory (1-8 GiB), so
    the heap never exceeds RAM and the GC runs before the kernel OOM
    killer would."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    heap_gb = max(1, min(8, mem_kb // (4 * 1024 * 1024)))
    return {"cores": str(cores), "driver_mem": f"{heap_gb}g"}


def start_session(fit: dict[str, str], work: str):
    """SparkSession through the engine's own factory, with the host fit
    and every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_tmp = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        # the spark-submit launcher JVM, before the driver JVM starts
        "SPARK_LAUNCHER_OPTS": jvm_tmp,
        "SPARK_DRIVER_MEM": fit["driver_mem"],
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import uncp_spark (UDFs) whatever their cwd
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    import tempfile

    tempfile.tempdir = tmp
    from uncp_spark.session import get_spark

    return get_spark(fit["cores"], app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": jvm_tmp,
    })


def stop_session(spark, pids: list[int]) -> None:
    """Stop Spark, end the JVM, and wait for ``pids`` (the JVM and every
    process below it) to end, killing any left after 20 s."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def load_metrics() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "uncp_spark")):
        print(f"perfbench: no uncp_spark package in {ROOT}; run from the "
              "root of a repository checkout", file=sys.stderr)
        return 2
    end_to_end, per_layer = load_metrics()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from spans import Tracer

    import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    fit = host_fit()
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    pool = ThreadPoolExecutor(1)
    try:
        inputs = pool.submit(workloads.prepare, args.workload, args.seed, work,
                             tracer.enabled)
        t0 = time.monotonic()
        spark = start_session(fit, work)
        bench = workloads.Bench(spark, work, args.seed, tracer)
        bench.layer["session.start_s"] = time.monotonic() - t0
        e2e = workloads.run(bench, args.workload, inputs.result(),
                            args.seconds, T_START)
    finally:
        pool.shutdown()
        if spark is not None:
            stop_session(spark, workloads.pids_below(workloads.jvm_pid(spark)))
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there

    for note in bench.notes:
        print(f"note: {note}")
    if not e2e:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    q = e2e["queries"]
    print(f"host: local[{fit['cores']}], driver heap {fit['driver_mem']}; "
          f"{len(e2e['ops'])} operation(s) of "
          f"{', '.join(f'{x:.2f}' for x in e2e['ops'])} s, "
          f"{len(q)} timed queries of "
          f"{min(q, default=0) * 1000:.0f}-{max(q, default=0) * 1000:.0f} ms, "
          f"planted-pair recall "
          f"{bench.recall if bench.recall is not None else 'n/a'}, "
          f"failed_ratio {bench.failed / max(1, bench.attempted):.4f}")
    wanted = per_layer if args.trace else end_to_end
    values = bench.layer if args.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in wanted}
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:14.4f} {m['unit']}")
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl")
        tracer.write(spans)
        print(f"spans: {os.path.relpath(spans, ROOT)}; tracing overhead = "
              "trace.run_s minus the untraced run_s of the same workload")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
