"""Process-tree CPU and memory from /proc, plus host and build facts.

The measured process tree is this Python driver, the JVM it launches
and the JVM's Python workers. Exited workers' CPU is kept through their
parent's cumulative child times.
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the ")" that closes the command name; index 0 is state
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> dict[int, list[str]]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_pids() -> list[int]:
    """Live descendants of this process."""
    return [pid for pid in _tree(os.getpid()) if pid != os.getpid()]


def tree_cpu_s() -> float:
    """User+sys CPU seconds of the tree, children that exited included."""
    total = 0
    for st in _tree(os.getpid()).values():
        total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_cpu_split() -> dict[str, float]:
    """User+sys CPU seconds of the tree by role: this driver process,
    the JVM, and the Python workers under the JVM (the pyspark daemon's
    child times hold the workers that have already exited, so
    ``exited_workers`` growing within an iteration means workers were
    replaced)."""
    tree = _tree(os.getpid())
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0, "exited_workers": 0.0, "n_workers": 0}
    jvms = {pid for pid, st in tree.items() if int(st[1]) == me}
    for pid, st in tree.items():
        own = (int(st[11]) + int(st[12])) / _TICK
        reaped = (int(st[13]) + int(st[14])) / _TICK
        if pid == me:
            out["driver"] += own
        elif pid in jvms:
            out["jvm"] += own
        else:
            out["workers"] += own + reaped
            out["exited_workers"] += reaped
            out["n_workers"] += 1
    return out


def jvm_stats(spark) -> dict[str, float]:
    """Cumulative GC and JIT-compilation milliseconds of the JVM, and
    the number of classes Spark's code generator compiled (cache misses)."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "codegen_compiles": float(codegen.METRIC_COMPILATION_TIME().getCount()),
        "gc_ms": float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())),
        "gc_count": float(sum(b.getCollectionCount() for b in mf.getGarbageCollectorMXBeans())),
        "jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime()),
    }


def tree_rss_mb() -> float:
    return sum(int(st[21]) for st in _tree(os.getpid()).values()) * _PAGE / 2**20


class PeakRss:
    """Samples the tree's summed RSS on a background thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs:
    a busy neighbour shows here and slows every timed metric."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_kb // 1024,
        "platform": platform.platform(),
        "python": platform.python_version(),
    }


def _first_line(args: list[str]) -> str | None:
    try:
        r = subprocess.run(args, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    text = (r.stdout.strip() or r.stderr.strip()) if r.returncode == 0 else ""
    return text.splitlines()[0] if text else None


def build_facts(root: str) -> dict:
    import pyspark

    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    # an exported tree has no .git; never let git search parent dirs
    has_git = os.path.isdir(os.path.join(root, ".git"))
    return {
        "git_head": _first_line(["git", "-C", root, "rev-parse", "HEAD"]) if has_git else None,
        "pyspark": pyspark.__version__,
        "java": _first_line([java, "-XX:-UsePerfData", "-version"]),
    }
