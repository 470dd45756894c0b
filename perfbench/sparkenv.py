"""The pinned Spark environment every benchmark process runs in.

Pins the driver heap below physical RAM (the engine's 20g default can
exceed a small machine), puts Spark's scratch space inside the checkout,
and runs ``local[nproc]`` with ``nproc`` shuffle partitions.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def cpu_clock() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of this machine so far, summed over CPUs."""
    with open("/proc/stat") as f:
        t = [int(x) / os.sysconf("SC_CLK_TCK") for x in f.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def since(clock0: tuple[float, float]) -> tuple[float, float]:
    """(busy, stolen) CPU seconds since the ``cpu_clock()`` reading ``clock0``."""
    return tuple(b - a for a, b in zip(clock0, cpu_clock()))


def unstolen(wall: float, busy: float, stolen: float) -> float:
    """``wall`` less the share of it the hypervisor took from the busy CPUs.

    Steal accrues only on virtual CPUs that have work to run, so over an
    interval the running threads asked for ``busy + stolen`` CPU seconds and
    got ``busy``; without the steal the interval would have been that much
    shorter. On a shared virtual machine the steal changes from run to run
    and is no property of the program; the kernel already leaves it out of
    process CPU times.
    """
    return wall * busy / (busy + stolen) if busy + stolen > 0 else wall


def ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_mem() -> str:
    """A quarter of RAM, at most 3 GiB."""
    return f"{min(3 * 1024, ram_bytes() // 4 // 2**20)}m"


def start_session(nproc: int, local_dir: str):
    """The engine's session with the benchmark's pins (JVM launch included)."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    # temporary files (Python's and the JVM's) stay inside the checkout too
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from bluegraph_spark.session import DEFAULT_CONFS, get_session

    java_opts = DEFAULT_CONFS["spark.driver.extraJavaOptions"]
    return get_session(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_confs={
            "spark.driver.extraJavaOptions": f"{java_opts} -Djava.io.tmpdir={tmp}",
            "spark.local.dir": local_dir,
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every stage of a span back from the store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def jvm_pid(spark) -> int | None:
    try:
        return spark.sparkContext._gateway.proc.pid
    except Exception:
        return None


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
