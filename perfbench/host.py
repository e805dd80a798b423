"""Host sizing, fingerprint and /proc readings for the benchmark.

Spark is sized from the host it runs on (cores, MemTotal), never from
constants: results from another host are not comparable, so every
result carries the fingerprint built here.
"""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import subprocess
import sys
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


class HostTooSmall(RuntimeError):
    pass


def _meminfo_kb(field: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor() or "unknown"


def _source_commit(root: str) -> str:
    """git commit when the checkout is a repository, else a digest of
    the package sources (the benchmark checkout carries no .git)."""
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            out = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            )
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(root, "anomalydetection_spark")
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return "src-sha256:" + h.hexdigest()[:16]


def fingerprint(root: str, spark) -> dict:
    import pyarrow
    import pyspark

    system = spark.sparkContext._jvm.java.lang.System
    return {
        "cores": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(_meminfo_kb("MemTotal") / 2**20, 1),
        "cpu_model": _cpu_model(),
        "spark": pyspark.__version__,
        "java": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "commit": _source_commit(root),
    }


def require(work_dir: str, min_mem_gb: float, min_disk_gb: float) -> None:
    """Fail with a clear message when the host cannot run a workload."""
    mem_gb = _meminfo_kb("MemAvailable") / 2**20
    os.makedirs(work_dir, exist_ok=True)
    disk_gb = shutil.disk_usage(work_dir).free / 2**30
    if mem_gb < min_mem_gb:
        raise HostTooSmall(
            f"host has {mem_gb:.1f} GB available memory; this workload needs"
            f" {min_mem_gb} GB"
        )
    if disk_gb < min_disk_gb:
        raise HostTooSmall(
            f"{work_dir} has {disk_gb:.1f} GB free disk; this workload needs"
            f" {min_disk_gb} GB"
        )


def spark_settings(work_dir: str) -> dict:
    """local[cores], driver heap an eighth of MemTotal (at least 1 GB),
    shuffle partitions = cores, every scratch file inside ``work_dir``
    (the JVMs' /tmp/hsperfdata files are switched off)."""
    cores = len(os.sched_getaffinity(0))
    heap_mb = max(1024, _meminfo_kb("MemTotal") // (8 * 1024))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "master": f"local[{cores}]",
        "shuffle_partitions": cores,
        "extra_conf": {
            "spark.driver.memory": f"{heap_mb}m",
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
        "env": {
            "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        },
    }


# ---- /proc ----------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the last ')'
    return data[data.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    """Running or sleeping; an exited process waiting to be reaped
    (state Z) has ended."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_split(jvm_pid: int) -> tuple[float, float]:
    """(JVM CPU s, Python-worker CPU s) so far. Worker CPU is every
    live descendant's own time plus the time of reaped ones, which the
    kernel folds into the parent's cutime/cstime (the daemon's for
    exited workers, the JVM's for an exited daemon)."""
    st = _stat(jvm_pid)
    if st is None:
        return 0.0, 0.0
    # fields after ')' start at index 0 == field 3 (state)
    jvm = int(st[11]) + int(st[12])
    py = int(st[13]) + int(st[14])
    for p in descendants(jvm_pid):
        s = _stat(p)
        if s is not None:
            py += int(s[11]) + int(s[12]) + int(s[13]) + int(s[14])
    return jvm / CLK_TCK, py / CLK_TCK


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_KB
    except OSError:
        return 0


class RssSampler:
    """Peak resident set of the driver JVM plus its descendants (the
    Python daemon and workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._pid: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self, jvm_pid: int) -> "RssSampler":
        self._pid = jvm_pid
        self._thread.start()
        return self

    def sample(self) -> None:
        pids = [self._pid, *descendants(self._pid)]
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024


def now() -> float:
    return time.perf_counter()
