"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S
    python3 perfbench/run.py --workload NAME --seed N --seconds S --overhead

Builds the package from the checkout it sits in, generates the
workload's inputs from the seed, measures for ``--seconds``, checks the
outputs against an independent reference and prints, as its last
stdout line, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). The line before it names the workload's
own metrics (``lag_p50_s``, ``corpus_s``, ...). Everything the run
writes stays under ``.perfbench/`` in the checkout; spans of a traced
run are kept there as ``spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


def pin_environment(work: str) -> None:
    """Run settings the program reads: all host cores, a fixed JVM heap
    below host RAM, and every temp and spill dir inside the work dir."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="utf-8") as f:
        mem_gb = int(f.readline().split()[1]) // 2**20
    heap = f"{max(1, min(2, mem_gb // 4))}g"
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # a fixed-size heap, so resident memory does not depend on when
        # the collector decides to grow it; job and stage history large
        # enough that statusTracker never drops a counted job
        "PYSPARK_SUBMIT_ARGS": (f'--conf "spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}'
                                f' -Xms{heap}" --conf spark.ui.retainedJobs=100000'
                                " --conf spark.ui.retainedStages=100000 pyspark-shell"),
    })


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def shutdown_spark() -> None:
    """Stop the session, then the JVM it runs in, and wait until every
    process below this one has ended. ``spark.stop()`` alone leaves the
    JVM running for some seconds after this process exits."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    procs = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()  # the JVM exits when its stdin closes
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
    deadline = time.time() + 10
    while time.time() < deadline and any(_alive(p) for p in procs):
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.time() + 10
    while time.time() < deadline and any(_alive(p) for p in procs):
        time.sleep(0.1)


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> int:
    sys.path[:0] = [ROOT]
    try:
        from perfbench import workloads as W
        from perfbench.trace import Tracer
        from canal_phoenix_adapter_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    if workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {workload!r}", file=sys.stderr)
        return 2
    with open(BENCHMARK, encoding="utf-8") as f:
        spec = json.load(f)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)

    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        tracer = Tracer(spark.sparkContext, trace)
        ctx = W.Ctx(spark, tracer, seed, seconds, work, session_s)
        res = W.finish(ctx, W.WORKLOADS[workload](ctx))
        if trace:
            tracer.dump(os.path.join(base, f"spans-{workload}-{seed}.json"))
    finally:
        shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    source = res.layers if trace else res.e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    # a metric that could not be measured (no committed file, say) marks
    # the run incorrect and prints as 0, keeping the line strict JSON
    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    for k in bad:
        metrics[k]["value"] = 0.0
    for note in res.notes:
        print(f"perfbench: {note}", file=sys.stderr)
    print(json.dumps({"workload": workload, "seed": seed, "trace": int(trace),
                      "named": {k: {"value": v, "unit": u} for k, (v, u) in res.named.items()},
                      "end_to_end": res.e2e}))
    print(json.dumps({"correct": res.mismatched == 0 and res.failed == 0 and not bad,
                      "attempted": res.attempted, "failed": res.failed, "metrics": metrics}))
    return 0


def _child(name: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict] | None:
    """Run one workload in a fresh process; (named line, result line)."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(int(trace))],
        capture_output=True, text=True, timeout=900, check=False)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        return None
    return json.loads(lines[-2]), json.loads(lines[-1])


def run_overhead(name: str, seed: int, seconds: int) -> int:
    """Tracing overhead: traced end-to-end metrics minus untraced ones,
    same workload and seed."""
    runs = [_child(name, seed, seconds, trace) for trace in (False, True)]
    if None in runs:
        return 1
    plain, traced = (r[0]["end_to_end"] for r in runs)
    for k in plain:
        print(f"{k}: untraced={plain[k]:.4g} traced={traced[k]:.4g} "
              f"overhead={traced[k] - plain[k]:+.4g}")
    print(json.dumps({k: traced[k] - plain[k] for k in plain}))
    return 0


def run_all(seed: int, seconds: int, trace: bool) -> int:
    """Every workload in its own process; one summary line per workload."""
    with open(BENCHMARK, encoding="utf-8") as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        out = _child(name, seed, seconds, trace)
        if out is None:
            return 1
        named, last = out
        print(f"{name}: " + ", ".join(f"{k}={v['value']:.4g} {v['unit']}"
                                      for k, v in named["named"].items()))
        summary["correct"] &= last["correct"]
        summary["attempted"] += last["attempted"]
        summary["failed"] += last["failed"]
        summary["metrics"].update({f"{name}.{k}": v for k, v in last["metrics"].items()})
    print(json.dumps(summary))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true",
                    help="run untraced then traced and print the difference")
    args = ap.parse_args(argv)
    # a terminated run still unwinds through the JVM shutdown
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.overhead:
        return run_overhead(args.workload, args.seed, args.seconds)
    if args.workload == "all":
        return run_all(args.seed, args.seconds, bool(args.trace))
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
