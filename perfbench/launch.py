"""Launcher pinning for the benchmark: cores, driver heap, worker import
path and scratch directories, all chosen here so the engine's own
``session.get_spark`` defaults (32 cores in ``bench.py``, a 16g heap)
never decide what a run measures.

Everything a run writes lands under the checkout: Spark's local dir,
the JVM temp dir and Python's ``TMPDIR`` all point into the run's work
directory, and the JVMs' perf-data files are switched off.
"""

from __future__ import annotations

import os
import shutil
import threading
import time


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """Driver heap: a quarter of RAM, at most 2 GiB.

    In local mode the driver heap is also the executors' heap; the
    indexes built here are a few MB, so 2 GiB leaves the host's
    memory to its other tenants."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(512, min(2048, total_kb // 1024 // 4))


def prepare_env(root: str, work: str) -> None:
    """Environment the JVM and its Python workers inherit.  Must run
    before the first SparkSession is created."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Arrow/pandas UDF workers import neosearch_spark by module path;
    # without the checkout on their path the build dies with
    # ModuleNotFoundError
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + prior if prior else "")
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_GRAFT_LOCAL_DIR", None)
    # read by every JVM spark-submit starts (its launcher too).  C1
    # only: a run lives about a minute, and on a few cores C2
    # compilation threads take more CPU than their code saves within
    # it (measured: cold and steady requests both faster)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1"


def start_spark(work: str):
    from neosearch_spark.session import get_spark

    n = cores()
    return get_spark(
        "perfbench",
        cores=n,
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": f"{driver_mem_mb()}m",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit (its
    Python workers are its children and go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    # the gateway server exits on EOF of its stdin
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — a wedged JVM must not outlive the run
        proc.kill()
        proc.wait()


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def clean_stale(work_root: str) -> None:
    """Remove work dirs (``<workload>-<pid>``) of runs that were killed
    before they could clean up."""
    if not os.path.isdir(work_root):
        return
    for name in os.listdir(work_root):
        pid = name.rpartition("-")[2]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            clean(os.path.join(work_root, name))


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))
            time.sleep(self.interval)


def _tree(root_pid: int) -> list[dict]:
    """/proc status and stat fields of a process and its descendants."""
    procs: dict[int, dict] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            with open(f"/proc/{name}/stat") as f:
                stat = f.read().rpartition(")")[2].split()
        except OSError:
            continue
        pid = int(name)
        # stat after the command: utime, stime, cutime, cstime are
        # fields 12..15 (state is field 1)
        fields["cpu_ticks"] = sum(int(x) for x in stat[11:15])
        procs[pid] = fields
        children.setdefault(int(fields["PPid"]), []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
        todo.extend(children.get(pid, []))
    return out


def tree_rss_kb(root_pid: int) -> int:
    return sum(int(p.get("VmRSS", "0 kB").split()[0]) for p in _tree(root_pid))


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of a
    process and its descendants.  Time the host steals from the VM is
    not in it."""
    return sum(p["cpu_ticks"] for p in _tree(root_pid)) / os.sysconf("SC_CLK_TCK")
