"""Measurement plumbing shared by the perfbench workloads: host-fit
Spark launch settings, spans, process CPU and RSS, and the op ledger.

Nothing here imports the program under test; the workloads do.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

import pyarrow


class Layout:
    """Where a run reads and writes: everything stays under the
    checkout (``<root>/.perfbench_run`` is scratch, wiped per run;
    ``<root>/.perfbench_out`` keeps traces and per-seed digests)."""

    def __init__(self, root: str):
        self.root = root
        self.run = os.path.join(root, ".perfbench_run")
        self.out = os.path.join(root, ".perfbench_out")
        self.tmp = os.path.join(self.run, "tmp")
        self.local = os.path.join(self.run, "spark-local")

    def fresh(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)
        for d in (self.tmp, self.local, self.out):
            os.makedirs(d, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run, *parts)


def host_fit(layout: Layout) -> dict:
    """Spark settings sized to this host, plus the environment every
    Spark process of the run inherits.  ``local[N]`` never exceeds the
    visible cores; the driver heap stays well under host RAM; shuffle
    partitions follow the library default of 2x cores; scratch lives in
    the checkout (``spark.local.dir``), and ``PYTHONPATH`` lets Python
    workers import ``rdf_n3_spark``."""
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    ram_gb = _mem_total_kb() / 2**20
    driver_gb = max(1, min(2, int(ram_gb // 4)))
    # every JVM keeps its temp files in the checkout; the driver gets a
    # fixed initial heap and the throughput collector, so its young
    # generation (and with it RSS) does not depend on GC heuristics
    java = f"-Djava.io.tmpdir={layout.tmp} -XX:-UsePerfData"
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.driver.memory": f"{driver_gb}g",
        "spark.driver.extraJavaOptions": f"{java} -Xms{driver_gb}g -XX:+UseParallelGC",
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.local.dir": layout.local,
        "spark.sql.warehouse.dir": layout.path("warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    env = {
        "PYTHONPATH": layout.root,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": layout.local,
        "TMPDIR": layout.tmp,
        "SPARK_LAUNCHER_OPTS": java,
        "SPARK_SUBMIT_OPTS": (os.environ.get("SPARK_SUBMIT_OPTS", "") + " " + java).strip(),
    }
    return {"cores": cores, "ram_gb": round(ram_gb, 1), "conf": conf, "env": env}


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_record(fit: dict) -> dict:
    """nproc, RAM and versions, printed with every run."""
    import pyspark

    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True,
                          text=True, timeout=60).stderr.splitlines()
    return {
        "nproc": os.cpu_count(),
        "cores_used": fit["cores"],
        "ram_gb": fit["ram_gb"],
        "spark": pyspark.__version__,
        "java": java[0] if java else "",
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "launch": fit["conf"],
        "env": {k: fit["env"][k] for k in ("PYTHONPATH", "SPARK_LOCAL_DIRS", "TMPDIR")},
    }


# --- Spark session in the benchmark process -------------------------------

def start_session(fit: dict):
    """A local SparkSession with the host-fit settings.  The caller owns
    it and must pass it to :func:`stop_session`."""
    os.environ.update(fit["env"])
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("perfbench")
    for k, v in fit["conf"].items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def spark_peak_rss_mb(spark) -> float:
    """Peak RSS of an in-process session's JVM plus its Python workers."""
    return tree_hwm_mb(spark.sparkContext._gateway.proc.pid)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it every Python
    worker) to exit."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=60)


# --- measurement -----------------------------------------------------------

class Tracer:
    """Spans around calls into the program's layers.  Off, it records
    nothing and the workloads skip the extra actions that split lazy
    layers apart; on, every span is kept in memory and written out at
    the end of the run."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list = []
        self.counts: dict = {}
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value) -> None:
        if self.on:
            self.counts[name] = value

    def self_times(self) -> list:
        """Each span's duration minus the time its children cover
        (children run one after another inside their parent)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [dict(s, dur=s["end"] - s["start"],
                     self=s["end"] - s["start"] - child.get(s["id"], 0.0))
                for s in self.spans]

    def median(self, name: str) -> float:
        durs = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return statistics.median(durs) if durs else 0.0

    def dump(self, path: str, extra: dict) -> None:
        spans = self.self_times()
        t0 = spans[0]["start"] if spans else 0.0
        for s in spans:
            s["start"] -= t0
            s["end"] -= t0
        with open(path, "w") as f:
            json.dump({"spans": spans, "counts": self.counts, **extra}, f, indent=1)


_TICK = os.sysconf("SC_CLK_TCK")


def _tree(root_pid: int) -> dict:
    """{pid: cpu ticks (own + reaped children's)} of ``root_pid`` and
    all its descendants."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, (pp, _) in procs.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return {p: procs[p][1] for p in tree if p in procs}


def tree_hwm_mb(root_pid: int) -> float:
    """Sum of the kernel's peak-RSS marks (VmHWM) over ``root_pid`` and
    all its live descendants."""
    total = 0
    for p in _tree(root_pid):
        try:
            with open(f"/proc/{p}/status") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total / 1024


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and its descendants."""
    return sum(_tree(root_pid).values()) / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this host, all cores."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class Op:
    """Wall time, CPU time of the benchmark's process tree and host CPU
    steal over one operation (or one set-up).

    ``net`` is the wall time less the stolen CPU time per core: on a
    shared host, steal is the main source of run-to-run spread in wall
    time, and the program cannot cause it."""

    def start(self):
        self._c, self._s = tree_cpu_s(os.getpid()), steal_s()
        self._t = time.perf_counter()
        return self

    def stop(self) -> None:
        self.wall = time.perf_counter() - self._t
        self.cpu = tree_cpu_s(os.getpid()) - self._c
        self.steal = steal_s() - self._s
        self.net = self.wall - self.steal / (os.cpu_count() or 1)

    __enter__ = start

    def __exit__(self, *exc):
        self.stop()


class Steps:
    """An :class:`Op` per named step of every operation of a run.  A
    run's figure for one operation is the sum over its steps of each
    step's median, so a burst of host noise that hits one step of one
    operation does not reach the result."""

    def __init__(self):
        self.ops: dict = {}

    @contextmanager
    def time(self, name: str):
        op = Op().start()
        try:
            yield
        finally:
            op.stop()
            self.ops.setdefault(name, []).append(op)

    def total(self, attr: str) -> float:
        return sum(statistics.median(getattr(o, attr) for o in ops)
                   for ops in self.ops.values())

    def record(self) -> dict:
        return {name: [{"wall_s": o.wall, "cpu_s": o.cpu, "steal_s": o.steal} for o in ops]
                for name, ops in self.ops.items()}


class Ledger:
    """Operations attempted, and which failed or returned wrong output."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list = []

    def record(self, op: str, problems: list) -> None:
        self.attempted += 1
        self.failed += bool(problems)
        self.errors += [f"{op}: {p}" for p in problems]


def dir_stats(*paths: str) -> tuple:
    """(bytes, files) of the parquet data files under ``paths``."""
    size = files = 0
    for top in paths:
        for d, _, names in os.walk(top):
            for n in names:
                if n.endswith(".parquet"):
                    size += os.path.getsize(os.path.join(d, n))
                    files += 1
    return size, files
