"""Benchmark entry point.

    python3 perfbench/run.py --workload evm_day --seed 1 --seconds 12 --trace 0

Run from the repository root. One process, one SparkSession on a fixed
``local[2]`` with 2 shuffle partitions, one operation in flight (a
closed loop). The first operation is the cold run; the workload's
``warmup_ops`` warm-up operations follow; then timed operations run
until their summed time reaches ``--seconds``, and ``run_s`` is their
median. Every operation's outputs are checked (outside the timed
region). The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 1`` prints the per-layer metrics instead (see ``layers.py``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "datawaves_etl_airflow_spark"

#: Spark pinned for every run: half the reference machine's 4 cores, so
#: the task threads, the Python workers, the JIT and the GC do not
#: oversubscribe it (README: How a run measures)
MASTER = "local[2]"
SHUFFLE_PARTITIONS = "2"


def seconds_since_process_start() -> float:
    """Wall time since this process was created (kernel clock ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM, its Python daemon and
    workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of the kernel's per-process RSS high-water marks (VmHWM) over
    this process and every live descendant."""
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def bytes_written_since(dirs: list[str], t0_ns: int) -> int:
    """Bytes of the files under ``dirs`` created or rewritten since
    ``t0_ns`` (what one operation wrote)."""
    total = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            for name in files:
                st = os.stat(os.path.join(root, name))
                if st.st_mtime_ns >= t0_ns:
                    total += st.st_size
    return total


def spark_conf(work: str, event_log: str | None = None) -> dict:
    conf = {
        "spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # keep the JVM's temp files and its perf-data file out of /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log
        conf["spark.eventLog.compress"] = "false"
    return conf


def start_spark(work: str, event_log: str | None = None):
    from datawaves_etl_airflow_spark.session import get_spark

    return get_spark("perfbench", master=MASTER,
                     conf=spark_conf(work, event_log))


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for every child."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break


class Loop:
    """Closed loop over one workload: times operations, checks each
    one's outputs, counts attempts and failures."""

    def __init__(self, spark, workload):
        self.spark = spark
        self.w = workload
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.out_bytes: list[int] = []
        self.check_s = 0.0
        #: context entered around each operation (the traced run's span)
        self.wrap = contextlib.nullcontext

    def once(self) -> float | None:
        self.attempted += 1
        t_ns = time.time_ns()
        t0 = time.perf_counter()
        try:
            with self.wrap():
                result = self.w.op(self.spark)
        except Exception:  # an operation that fails is counted, not fatal
            self.failed += 1
            traceback.print_exc()
            return None
        dt = time.perf_counter() - t0
        self.out_bytes.append(bytes_written_since(self.w.output_dirs(), t_ns))
        t1 = time.perf_counter()
        bad = self.w.check(self.spark, result)
        self.check_s += time.perf_counter() - t1
        if bad:
            print("check failed: " + "; ".join(bad), file=sys.stderr)
            self.problems += bad
        return dt

    def warm(self) -> list[float]:
        """The workload's warm-up operations; returns their times."""
        n = self.w.warmup_ops
        times: list[float] = []
        while len(times) < n and self.attempted < 3 * n + 3:
            t = self.once()
            if t is not None:
                times.append(t)
        return times

    def measure(self, seconds: float) -> list[float]:
        """Timed operations until their summed time reaches ``seconds``,
        at least one (checks between them do not count)."""
        times: list[float] = []
        while (not times or sum(times) < seconds) and self.failed < 10:
            t = self.once()
            if t is not None:
                times.append(t)
        return times


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found next to {os.path.basename(HERE)}/: "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # pandas-UDF workers import the package only with the repository
    # root on their PYTHONPATH (or as their working directory)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    workloads.reset(work)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    workload = workloads.WORKLOADS[args.workload]()

    try:
        if args.trace:
            import layers

            return layers.main(args, work, workload)
        return measure(args, work, workload)
    finally:
        workloads.shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str, workload) -> int:
    """The untraced run: the end-to-end metrics."""
    spark = start_spark(work)
    setup_s = seconds_since_process_start()
    try:
        workload.prepare(spark, os.path.join(work, "data"), args.seed)
        loop = Loop(spark, workload)
        cold = None
        while cold is None and loop.attempted < 3:
            cold = loop.once()
        warm = loop.warm()
        times = loop.measure(args.seconds)
        rss = peak_rss_mb()
    finally:
        stop_spark(spark)

    result = {
        "correct": not loop.problems,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cold_run_s": {"value": cold, "unit": "s"},
            "run_s": {"value": statistics.median(times), "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "output_mb": {"value": statistics.median(loop.out_bytes) / 2**20,
                          "unit": "MB"},
        },
    }
    print(f"cold {cold:.3f}  warm-up {[round(t, 3) for t in warm]}  "
          f"timed {[round(t, 3) for t in times]}  checks {loop.check_s:.1f}",
          file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
