"""Shared plumbing: checkout layout, Spark set-up, memory sampling,
statistics and run metadata."""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BUILD = ROOT / ".bench_build"
CPUS = 4  # every load is sized for a 4-core host
T_START = time.perf_counter()
MARKS: dict[str, float] = {}


def mark(name: str) -> None:
    """Record seconds since start-up at a named point of the run."""
    MARKS[name] = round(time.perf_counter() - T_START, 3)


def check_checkout() -> None:
    """Refuse to run without the program beside the benchmark."""
    need = [ROOT / "aprs2influxdb_spark" / "__init__.py", ROOT / "tools" / "gen_scale.py"]
    missing = [str(p.relative_to(ROOT)) for p in need if not p.is_file()]
    if missing:
        sys.stderr.write(f"perfbench: program files missing from {ROOT}: {missing}\n")
        raise SystemExit(2)


def prepare_env(trace: bool, run_dir: Path) -> None:
    """Point Spark, the JVM, Python's ``tempfile`` and the program at
    scratch space inside the checkout; Python workers find the package
    through PYTHONPATH."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_LOCAL_DIRS"] = str(BUILD / "spark-local")
    os.environ["SPARK_GRAFT_MEDIA_CACHE"] = str(BUILD / "media")
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    conf = [f"--conf spark.sql.warehouse.dir={BUILD / 'warehouse'}",
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"']
    if trace:
        (run_dir / "eventlog").mkdir(parents=True, exist_ok=True)
        conf += ["--conf spark.eventLog.enabled=true", f"--conf spark.eventLog.dir={run_dir / 'eventlog'}",
                 "--conf spark.eventLog.compress=false", "--conf spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf) + " pyspark-shell"
    sys.path.insert(0, str(ROOT))


def warm_up(spark) -> None:
    """Readiness check after a session starts: one small shuffle job.
    (Each workload's first pass over its own chain happens in its
    untimed reference computation.)"""
    from pyspark.sql import functions as F

    spark.range(20000).groupBy((F.col("id") % 7).alias("k")).count().collect()


def timed_setup(app: str) -> tuple:
    """One set-up: ``get_spark`` (launching the JVM if none is running),
    then warm-up.  No workload needs a ``media_store.ensure_*`` store
    (the registry entries chosen read only the generated tables).
    Returns (spark, {session_s, warmup_s, total_s})."""
    from aprs2influxdb_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm_up(spark)
    t2 = time.perf_counter()
    return spark, {"session_s": t1 - t0, "warmup_s": t2 - t1, "total_s": t2 - t0}


def repeated_setup(app: str, n: int = 3) -> tuple:
    """Set up ``n`` times in this process and keep the last session.
    The first set-up launches the JVM; the others stop the session and
    create a new one in the same JVM.  Returns (spark, [timings])."""
    timings = []
    spark = None
    for _ in range(n):
        if spark is not None:
            spark.stop()
        spark, t = timed_setup(app)
        timings.append(t)
    return spark, timings


# -------------------------------------------------------------- processes
def become_subreaper() -> None:
    """Adopt orphaned descendants: when the JVM exits before its Python
    workers, they become this process's children, so ``stop_processes``
    can still wait for them (Linux ``PR_SET_CHILD_SUBREAPER``)."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (zombies excluded)."""
    kids = _children_map()
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                state = fh.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state != "Z":
            out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace_s: float = 20.0) -> list[int]:
    """Stop every process this run started and wait until each has
    ended.  The Spark JVM exits when its stdin closes (its Python
    workers follow it); whatever is still alive after ``grace_s`` gets
    SIGTERM, then SIGKILL.  Returns the pids that had to be signalled."""
    import signal

    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may be gone already
            pass
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
        SparkContext._gateway = SparkContext._jvm = None
    signalled: list[int] = []
    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, sig)
                    signalled.append(pid)
                except ProcessLookupError:
                    pass
        while True:
            _reap()
            if not descendants(os.getpid()) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not descendants(os.getpid()):
            return signalled
        deadline = time.monotonic() + 5.0
    raise RuntimeError(f"processes still running after SIGKILL: {descendants(os.getpid())}")


# ---------------------------------------------------------------- memory
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_mb(root: int, exclude: set[int]) -> dict[str, float]:
    """Resident memory (MB) of ``root`` and its descendants, minus the
    subtrees rooted at ``exclude`` (the traffic generator), split into
    the JVM, this process and everything else (Python workers)."""
    kids = _children_map()
    out = {"jvm": 0.0, "driver": 0.0, "workers": 0.0}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/status") as fh:
                kb = next((int(ln.split()[1]) for ln in fh if ln.startswith("VmRSS:")), 0)
        except OSError:
            kb = 0
            comm = ""
        key = "driver" if pid == root else "jvm" if comm == "java" else "workers"
        out[key] += kb / 1024.0
        stack.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Samples this process tree's resident memory every ``period_s``
    on a thread.  ``restart`` opens a workload's measured window and
    ``close_window`` ends it, returning the peak total seen in between
    and the split of that sample; work after the window (checks, traced
    extras) does not reach the figures it returned."""

    def __init__(self, period_s: float = 0.25) -> None:
        self.period_s = period_s
        self.exclude: set[int] = set()
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        parts = tree_rss_mb(os.getpid(), self.exclude)
        total = sum(parts.values())
        with self._lock:
            if total > self.peak_mb:
                self.peak_mb, self.peak_parts = total, parts

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def restart(self) -> None:
        with self._lock:
            self.peak_mb, self.peak_parts = 0.0, {}
        self._sample()

    def close_window(self) -> dict[str, float]:
        """The window's peak as ``mem.*`` per-layer metrics (MB)."""
        self._sample()
        with self._lock:
            return {"mem.peak_rss_mb": self.peak_mb,
                    **{f"mem.{k}_rss_mb": v for k, v in self.peak_parts.items()}}

    def __enter__(self) -> "RssSampler":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join(timeout=5)


# ------------------------------------------------------------ statistics
def percentile(values, q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q <= 1) of ``values``."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    return v[max(0, math.ceil(q * len(v)) - 1)]


def tail_supported(n: int, q: float, beyond: int = 10) -> bool:
    """A ``q`` percentile is reported only when at least ``beyond``
    samples lie above it."""
    return n - math.ceil(q * n) >= beyond


def geomean(values) -> float:
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


# --------------------------------------------------------------- metadata
def _source_sha() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "aprs2influxdb_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def run_metadata(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    import pyspark

    return {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace, "cpus_used": CPUS, "host_cpus": os.cpu_count(),
        "git_sha": _git_sha(), "source_sha": _source_sha(),
        "pyspark": pyspark.__version__, "python": platform.python_version(),
        "loadavg_start": os.getloadavg(), "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def new_run_dir(workload: str, seed: int, trace: bool) -> Path:
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    d = BUILD / "runs" / f"{workload}-s{seed}-t{int(trace)}-{stamp}-{os.getpid()}"
    d.mkdir(parents=True, exist_ok=True)
    return d


def write_json(path: Path, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, default=str)
        fh.write("\n")
