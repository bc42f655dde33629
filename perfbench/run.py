#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload web_crawl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all        # every workload, in turn

Prints each metric as "name value unit" and, as the last line of
standard output, one JSON object {correct, attempted, failed, metrics}.
--trace 0 measures the end-to-end metrics; --trace 1 makes a separate
traced run that reports the per-layer metrics. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# Sessions started per run: the first launches the JVM, the rest restart
# the SparkContext inside it; setup_s is their median.
N_SETUPS = 5

# The inputs need far less. With a 4 GiB heap G1 grew the young
# generation by GC timing and peak RSS varied 18-29% between runs; at
# 2 GiB it varies 7-15%.
DRIVER_HEAP_MB = 2048

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "triples_per_s": "triples/s",
    "pages_per_s": "pages/s",
    "peak_rss_mb": "MB",
}


def configure_env(work: str) -> int:
    """Fit the session to this machine from outside the program:
    local[<usable cores>], a driver heap of a quarter of RAM (at most
    DRIVER_HEAP_MB), Python workers that can import rdf2smw_spark, and
    every temporary file under the work directory."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    heap_mb = max(1024, min(DRIVER_HEAP_MB, mem_mb // 4))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '{java_opts}' "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false "
            "pyspark-shell"
        ),
    })
    return cores


def build_inputs(name: str, sf: str, seed: int, work: str) -> None:
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name]
    wl.expected(wl.inputs(work, sf, seed), work)


def prepare(wl, sf: str, seed: int, work: str) -> dict:
    """Inputs and oracle caches, built (or found cached) in a child
    process, so DuckDB's memory never counts towards the measured process
    tree; the parent then reads the cached meta."""
    code = (
        f"import sys; sys.path.insert(0, {ROOT!r}); from perfbench.run import build_inputs; "
        f"build_inputs({wl.name!r}, {sf!r}, {seed!r}, {work!r})"
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=900)
    return wl.inputs(work, sf, seed)


def start_sessions(wl, meta: dict, work: str, cores: int | None = None, n: int = N_SETUPS, spark=None):
    """n set-ups: (re)start the session and build the workload's
    standing state. A running `spark` is stopped first: getOrCreate
    would otherwise hand it back with its own master. Returns (spark,
    state, setup times, session times)."""
    from rdf2smw_spark.session import get_spark

    st, setups, starts = None, [], []
    for _ in range(n):
        t0 = time.monotonic()
        if spark is not None:
            spark.stop()
        spark = get_spark(app_name=f"perfbench-{wl.name}", cores=cores)
        spark.sparkContext.setLogLevel("ERROR")
        if cores is not None and spark.sparkContext.master != f"local[{cores}]":
            raise RuntimeError(f"asked for local[{cores}], got {spark.sparkContext.master}")
        t1 = time.monotonic()
        st = wl.setup(spark, meta, work)
        setups.append(time.monotonic() - t0)
        starts.append(t1 - t0)
    return spark, st, setups, starts


def stop_jvm(timeout: float = 60) -> None:
    """Shut the gateway JVM down and wait until it and its children (the
    PySpark worker daemon and workers) have exited; PySpark alone leaves
    that to interpreter exit, when the JVM's stdin closes."""
    from pyspark import SparkContext

    from perfbench.tracing import tree_pids

    gateway = SparkContext._gateway
    if gateway is None:
        return
    children = tree_pids(gateway.proc.pid)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(_running(p) for p in children):
        if time.monotonic() > deadline:
            alive = [p for p in children if _running(p)]
            raise RuntimeError(f"child processes still running: {alive}")
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """True while `pid` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def _steal() -> float:
    """CPU seconds the hypervisor took from this machine, all cores."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def timed_op(wl, spark, st, tracer):
    t0 = time.monotonic()
    out = wl.op(spark, st, tracer)
    return out, time.monotonic() - t0


def measure(wl, spark, st, seconds: float, sampler) -> dict:
    """wl.warmups untimed operations, then a closed loop: operations back
    to back until `seconds` of operation time have passed (at least
    one). Every output is kept and checked after the loop, so the checks
    run outside the timed region and their memory never counts in
    peak_rss_mb."""
    from perfbench.workloads import NullTracer

    outs = []
    for _ in range(wl.warmups):
        out, wall = timed_op(wl, spark, st, NullTracer())
        print(f"[measure] warm-up op {wall:.2f}s", file=sys.stderr)
        outs.append(out)
    walls = []
    sampler.reset()
    while not walls or sum(walls) < seconds:
        steal0 = _steal()
        out, wall = timed_op(wl, spark, st, NullTracer())
        # host CPU steal during the operation, to read noisy runs by
        print(f"[measure] op {wall:.2f}s, host steal {_steal() - steal0:.2f} cpu-s", file=sys.stderr)
        walls.append(wall)
        outs.append(out)
    peak = sampler.peak
    measured = outs[wl.warmups:]
    total = sum(walls)
    t0 = time.monotonic()
    failed = sum(wl.check(st, out)["mismatched_rows"] > 0 for out in outs)
    print(f"[measure] checks {time.monotonic() - t0:.2f}s", file=sys.stderr)
    return {
        "attempted": len(outs),
        "failed": failed,
        "metrics": {
            "wall_s": statistics.median(walls),
            "triples_per_s": sum(out["triples"] for out in measured) / total,
            "pages_per_s": sum(out["pages"] for out in measured) / total,
            "peak_rss_mb": peak / 2**20,
        },
    }


def run(name: str, seed: int, seconds: float, trace: bool, sf: str | None, work: str) -> dict:
    from perfbench.tracing import RssSampler
    from perfbench.workloads import WORKLOADS

    t_start = time.monotonic()

    def phase(label: str) -> None:
        print(f"[run] {label} at {time.monotonic() - t_start:.1f}s", file=sys.stderr, flush=True)

    wl = WORKLOADS[name]
    sf = sf or wl.default_sf
    cores = configure_env(work)
    meta = prepare(wl, sf, seed, work)
    phase("inputs ready")

    sampler = RssSampler(os.getpid()).start()
    spark = None
    try:
        spark, st, setups, starts = start_sessions(wl, meta, work)
        phase(f"{len(setups)} set-ups done")
        if trace:
            from perfbench.traced import traced_run

            res = traced_run(wl, spark, st, meta, work, cores, starts)
            spark = res.pop("spark")
        else:
            res = measure(wl, spark, st, seconds, sampler)
            res["metrics"]["setup_s"] = statistics.median(setups)
        phase("measured and checked")
    finally:
        sampler.stop()
        if spark is not None:
            spark.stop()
            stop_jvm()
    phase("session stopped")
    res["correct"] = res["failed"] == 0
    return res


def units_for(trace: bool) -> dict:
    if not trace:
        return END_TO_END_UNITS
    from perfbench.traced import PER_LAYER

    return {m: u for m, u, _ in PER_LAYER}


def run_all(args) -> int:
    """Each workload in its own process, in turn."""
    from perfbench.workloads import WORKLOADS

    results = {}
    for name in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        if args.sf:
            cmd += ["--sf", args.sf]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        if proc.returncode != 0:
            print(f"{name}: failed with exit code {proc.returncode}", file=sys.stderr)
            return proc.returncode
        lines = proc.stdout.strip().splitlines()
        print(f"== {name}")
        print("\n".join(lines[:-1]))
        results[name] = json.loads(lines[-1])
    print(json.dumps(results))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", help="testdata scale (default: the workload's own)")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all")
    work = os.environ.get("PERFBENCH_WORK", os.path.join(ROOT, ".bench_work"))
    res = run(args.workload, args.seed, args.seconds, bool(args.trace), args.sf, work)
    units = units_for(bool(args.trace))
    for m, v in res["metrics"].items():
        print(f"{m} {v:.6g} {units[m]}")
    print(f"error_rate {res['failed'] / res['attempted']:.6g} fraction")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m: {"value": v, "unit": units[m]} for m, v in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
