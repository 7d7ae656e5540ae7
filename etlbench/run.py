"""Run one workload of the ETL benchmark and print its result line.

    python3 etlbench/run.py --workload jdbc_backfill --seed 1 --seconds 8 --trace 0

Run it from the repository root (it imports ``kafkaconnect_spark``
from the directory above this one). The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics of a traced run (see
README.md). Everything the run writes goes under ``.etlbench_work/``
in the repository root and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

HEAP = "2g"
WORKLOAD_NAMES = ("jdbc_backfill", "dedup_ingest")
END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def _proc_mb(path: str, key: str) -> float | None:
    """A ``key: <n> kB`` line of a /proc file, in MB (None once the
    process is gone)."""
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return None


def _hwm_mb(pid: int) -> float | None:
    return _proc_mb(f"/proc/{pid}/status", "VmHWM:")


def _pss_mb(pid: int) -> float | None:
    return _proc_mb(f"/proc/{pid}/smaps_rollup", "Pss:")


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


class MemoryWatch:
    """Peak memory of the processes of the program, in four parts:

    - the Python driver's high-water RSS (VmHWM);
    - the driver JVM's off-heap high-water RSS: its VmHWM minus the
      committed heap, which is pre-touched and so always resident;
    - the JVM heap's peak use, summed over its memory pools;
    - the Python workers the JVM forks (Arrow/pandas UDFs, sink
      writers). They come and go and share pages with the daemon they
      fork from, so the watch polls the JVM's process tree and keeps the
      largest sum of their proportional set sizes."""

    def __init__(self, spark, period_s: float = 0.25):
        self.jvm_view = spark.sparkContext._jvm
        self.jvm = spark.sparkContext._gateway.proc.pid
        self.workers_peak = 0.0
        self.period_s = period_s
        self.done = threading.Event()
        self.thread = threading.Thread(target=self._loop, daemon=True)
        self.thread.start()

    def _poll(self) -> None:
        now = sum(_pss_mb(pid) or 0.0 for pid in _descendants(self.jvm))
        self.workers_peak = max(self.workers_peak, now)

    def _loop(self) -> None:
        while not self.done.wait(self.period_s):
            self._poll()

    def stop(self) -> dict[str, float]:
        self.done.set()
        self.thread.join()
        self._poll()
        mgmt = self.jvm_view.java.lang.management.ManagementFactory
        heap = mgmt.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20
        peak = sum(
            p.getPeakUsage().getUsed()
            for p in mgmt.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP"
        )
        return {
            "python_driver_mb": _hwm_mb(os.getpid()),
            "jvm_offheap_mb": _hwm_mb(self.jvm) - heap,
            "jvm_heap_peak_mb": peak / 2**20,
            "python_workers_mb": self.workers_peak,
        }


def start_session(work: str, ui: bool):
    """Pinned run environment: local[nproc], shuffle partitions = nproc,
    every scratch file under ``work``, UI (and its REST API) only for
    the traced run."""
    from kafkaconnect_spark.session import get_spark
    from etlbench.workloads import NPROC

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = {
        # a fixed, pre-touched heap: the JVM's resident size is then the
        # heap plus what lives off-heap, whatever the GC's sizing does
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if ui:
        conf.update(
            {
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    spark = get_spark(
        "etlbench", master=f"local[{NPROC}]", shuffle_partitions=NPROC, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit: the gateway JVM exits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def calibrate(spark) -> dict:
    """Machine-speed probe of the same kind as the catalog bench's:
    a single numpy matmul and a small shuffle round trip, best of 3."""
    import numpy as np
    from pyspark.sql import functions as F

    x = np.random.default_rng(7).random((600, 600))
    cpu = float("inf")
    jvm = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        x @ x
        cpu = min(cpu, time.perf_counter() - t)
        t = time.perf_counter()
        (
            spark.range(0, 400_000, 1, 16)
            .withColumn("k", F.col("id") % 97)
            .groupBy("k")
            .agg(F.sum("id"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        jvm = min(jvm, time.perf_counter() - t)
    return {"cpu_matmul_s": round(cpu, 5), "spark_shuffle_s": round(jvm, 4)}


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from etlbench import workloads

    work = os.path.join(ROOT, ".etlbench_work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers (Avro pandas UDFs) import the engine from here too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        t = time.perf_counter()
        spark = start_session(work, ui=trace)
        session_s = time.perf_counter() - t
        try:
            memory = MemoryWatch(spark)
            tracer = workloads.NullTracer()
            if trace:
                from etlbench.trace import Tracer

                tracer = Tracer(spark, workload)
            m = workloads.WORKLOADS[workload](spark, work, seed, seconds, tracer)
            mem = memory.stop()
            stamp = {
                "workload": workload,
                "seed": seed,
                "seconds": seconds,
                "trace": int(trace),
                "nproc": workloads.NPROC,
                "spark": spark.version,
                "python": platform.python_version(),
                "commit": git_commit(),
                "calibration": calibrate(spark),
            }
            # per-cycle rates, median over the window's cycles
            e2e = {
                "setup_s": session_s + statistics.median(m.prepare_s) + m.warmup_s,
                "rows_per_s": statistics.median(sink / s for s, _, sink in m.cycles),
                "docs_per_s": statistics.median(n / s for s, n, _ in m.cycles),
                # the fixed heap is a setting; what varies is off-heap
                "peak_rss_mb": mem["python_driver_mb"] + mem["jvm_offheap_mb"],
            }
            layers = tracer.finish(e2e, mem) if trace else None
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail = {
        "stamp": stamp,
        "setup_parts_s": {
            "session": session_s,
            "prepare": m.prepare_s,
            "warmup": m.warmup_s,
        },
        "memory_mb": mem,
        "cycles": [[round(s, 3), n, sink] for s, n, sink in m.cycles],
        "info": m.info,
    }
    if trace:
        detail["trace"] = tracer.summary
        metrics = layers
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    return {
        "detail": detail,
        "result": {
            "correct": m.failed == 0,
            "attempted": m.attempted,
            "failed": m.failed,
            "metrics": metrics,
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, "kafkaconnect_spark", "streaming", "engine.py")):
        print(
            f"etlbench: no kafkaconnect_spark package under {ROOT}; "
            "run from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(out["detail"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
