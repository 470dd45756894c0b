"""Benchmark of the link-graph engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload corpus_pipeline --seed 1 --seconds 1 --trace 0

Starts one Spark driver (``local[nproc]``), generates the workload's
inputs from the seed, then runs passes back to back for ``--seconds``, at
least one (a closed loop: each pass starts when the previous one ends).
Timing comes from spans around the calls into the engine's public
functions. After the timed region every pass's outputs are checked against
independent references. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``). See
README.md in this directory for the workloads and metrics.
"""

import time

T0 = time.time()  # process start, for the set-up time

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from sparkenv import (  # noqa: E402
    ROOT, WORK, cpu_clock, jvm_pid, since, start_session, stop_session, unstolen,
)

CLOCK0 = cpu_clock()

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("corpus_pipeline", "superstep_loops")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def vm_hwm_kb(pid) -> int:
    """Peak resident set (VmHWM) of a process, in KiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def environment(spark, nproc: int, seed: int) -> dict:
    from sparkenv import driver_mem, ram_bytes

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=HERE, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except Exception:
        sha = "unknown"
    import pyspark

    return {
        "nproc": nproc,
        "ram_gb": round(ram_bytes() / 2**30, 2),
        "free_disk_gb": round(shutil.disk_usage(WORK).free / 2**30, 2),
        "driver_mem": driver_mem(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": sha,
        "seed": seed,
    }


def main(argv=None) -> int:
    args = parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "bluegraph_spark")):
        print("bluegraph_spark not found beside the benchmark", file=sys.stderr)
        return 2
    local_dir = os.path.join(WORK, "local")
    run_dir = os.path.join(WORK, "run")
    for d in (local_dir, run_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    nproc = len(os.sched_getaffinity(0))

    spark = start_session(nproc, local_dir)
    spark.range(1).count()
    setup_s = unstolen(time.time() - T0, *since(CLOCK0))

    import driver

    try:
        bench = driver.Bench(spark, args.workload, args.seed, run_dir, trace=bool(args.trace))
        print(json.dumps({"env": environment(spark, nproc, args.seed)}), flush=True)
        bench.run(args.seconds)
        pids = (os.getpid(), jvm_pid(spark))
        peak_mb = sum(vm_hwm_kb(p) for p in pids if p) / 1024.0
    finally:
        stop_session(spark)
    report = bench.check()
    if args.trace:
        metrics = bench.layer_metrics(peak_mb)
    else:
        metrics = {
            "wall_s": {"value": statistics.median(bench.walls), "unit": "s"},
            "cpu_s": {"value": bench.cpu_s(), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    bench.dump_spans(os.path.join(WORK, f"spans-{args.workload}-s{args.seed}-t{args.trace}.jsonl"))
    print(json.dumps({"detail": report}), flush=True)
    for d in (local_dir, run_dir, os.path.join(WORK, "tmp")):
        shutil.rmtree(d, ignore_errors=True)
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
