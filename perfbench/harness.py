"""Spark session, spans, per-layer Spark metrics and the run stamp.

Spans are recorded around the benchmark's own calls into citykg; nothing
inside the program is instrumented. In a traced run every span also sets a
Spark job group, and at the end the jobs and stages of each group are read
back from the Spark UI's REST API and summed per layer.
"""

from __future__ import annotations

import ctypes
import hashlib
import json
import os
import platform
import resource
import signal
import subprocess
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager

# Layers, in pipeline order. Every traced run reports every layer; a layer
# a workload does not touch reports zeros.
LAYERS = (
    "sources", "extract", "link", "canon", "materialize.write",
    "materialize.upsert", "materialize.compact", "store", "agents",
)
COMMON = (
    "wall_s", "executor_s", "gc_s", "jobs", "tasks", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb", "input_mb", "output_mb",
)


def start_spark(work: str, traced: bool):
    """local[nproc] session from citykg's own factory, with every path it
    writes kept inside `work`."""
    from citykg.session import get_spark

    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed set of JIT compiler threads, so tree_cpu_s can leave them all out
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                                          "-XX:-UseDynamicNumberOfCompilerThreads"),
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if traced else "false",
    }
    if traced:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark = get_spark("perfbench", master=f"local[{nproc()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        if gw is not None:
            gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    from pyspark import SparkContext

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


class Tracer:
    """In-memory spans (name, start, end, parent). With `traced`, each span
    also tags the Spark jobs it submits with its own job group."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, group: str | None = None):
        """One timed call into `layer`. `group` names an already open span
        whose job group this thread should join (client threads of a burst)."""
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "layer": layer, "parent": stack[-1] if stack else None,
                   "member": group is not None, "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(group or f"span-{sid}", layer)
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.traced:
                if stack:
                    sc.setJobGroup(f"span-{stack[-1]}", self.spans[stack[-1]]["layer"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its child spans cover."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out


def _rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}{path}"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def job_metrics(spark) -> dict[str, list[dict]]:
    """Completed jobs per job group, each with its completed stages."""
    stages = {s["stageId"]: s for s in _rest(spark, "/stages?status=COMPLETE")}
    out: dict[str, list[dict]] = {}
    for j in _rest(spark, "/jobs"):
        j["stages"] = [stages[s] for s in j.get("stageIds", []) if s in stages]
        out.setdefault(j.get("jobGroup") or "", []).append(j)
    return out


def sum_jobs(jobs: list[dict]) -> dict[str, float]:
    """The common per-layer metric set over a list of jobs (minus wall_s)."""
    m = dict.fromkeys(COMMON, 0.0)
    m["jobs"] = float(len(jobs))
    for j in jobs:
        for s in j["stages"]:
            m["executor_s"] += s.get("executorRunTime", 0) / 1000.0
            m["gc_s"] += s.get("jvmGcTime", 0) / 1000.0
            m["tasks"] += s.get("numCompleteTasks", 0)
            m["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / 1e6
            m["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
            m["spill_mb"] += s.get("diskBytesSpilled", 0) / 1e6
            m["input_mb"] += s.get("inputBytes", 0) / 1e6
            m["output_mb"] += s.get("outputBytes", 0) / 1e6
            m["peak_exec_mem_mb"] = max(m["peak_exec_mem_mb"],
                                        s.get("peakExecutionMemory", 0) / 1e6)
    return m


_BURN = """
import sys, time
def burn(n):
    x = 0
    for i in range(n):
        x += i * i
    return x
n = int(sys.argv[1])
t0 = time.perf_counter()
burn(n)
print(n / (time.perf_counter() - t0) / 1e6)
"""


def cpu_control_mops(n: int = 2_000_000) -> dict[str, float]:
    """Pure-Python CPU rate (million loop steps per second per worker) at
    1 worker and at nproc workers: the machine-drift control a speed-up
    claim is stamped with. Workers are plain child processes, each timing
    its own loop; every one is waited for before this returns."""
    out = {}
    for k in sorted({1, nproc()}):
        procs = [subprocess.Popen([sys.executable, "-c", _BURN, str(n)],
                                  stdout=subprocess.PIPE, text=True) for _ in range(k)]
        rates = [float(p.communicate(timeout=120)[0]) for p in procs]
        out[str(k)] = round(min(rates), 2)
    return out


def _stat(path: str) -> list[str] | None:
    """Fields of a /proc stat file from field 3 (state) on, and the comm."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split() + [stat[stat.index("(") + 1:stat.rindex(")")]]


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (parent pid, CPU ticks of the process and its reaped children, comm)."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat(f"/proc/{d}/stat")
            if f is not None:
                out[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]), f[-1])
    return out


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's live JIT compiler threads."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        f = _stat(f"/proc/{pid}/task/{tid}/stat")
        if f is not None and f[-1].startswith(("C1 Compiler", "C2 Compiler")):
            ticks += int(f[11]) + int(f[12])
    return ticks


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the JVM, its Python workers), each with its reaped
    children, less the JVM's JIT compiler threads. Unlike wall time it
    leaves out the time a process waits for a CPU, which on a shared host
    swings several-fold between runs; JIT compilation is left out because
    how much of it lands in a timed operation depends on how far the
    warm-up got, not on the program."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in table:
            ticks += table[pid][1]
            if table[pid][2] == "java":
                ticks -= _jit_ticks(pid)
        todo.extend(kids.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def reap_children(grace_s: float = 10.0) -> None:
    """End and wait for every process still parented to this one. With
    `become_subreaper` in force that includes orphaned grandchildren (the
    JVM's Python workers), so nothing the run started outlives it."""

    def children() -> list[int]:
        me = os.getpid()
        return [pid for pid, (ppid, _, _) in _proc_table().items() if ppid == me]

    def reap() -> None:
        while True:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    return
            except ChildProcessError:
                return

    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = children()
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + grace_s
        while pids and time.monotonic() < end:
            reap()
            pids = children()
            if pids:
                time.sleep(0.05)
        if not pids:
            return
    reap()


def become_subreaper() -> None:
    """Linux: orphaned descendants are re-parented to this process instead
    of init, so `reap_children` can wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def source_digest(root: str) -> str:
    """sha1 over citykg/*.py: names the code measured when no git metadata
    is present (the benchmark may run from a plain export)."""
    h = hashlib.sha1()
    pkg = os.path.join(root, "citykg")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def stamp(spark, root: str, seed: int, sizes: dict, control: dict) -> dict:
    commit = None
    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        pass
    jvm = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": nproc(),
        "spark": spark.version,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": commit,
        "source_sha1": source_digest(root),
        "seed": seed,
        "sizes": sizes,
        "cpu_control_mops": control,
    }
