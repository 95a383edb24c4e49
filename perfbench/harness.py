"""Run isolation, session start-up, host provenance, sampling and result
checks shared by every workload.

Nothing here runs at import time: ``isolate()`` must be called before
pyspark is imported, because the JVM and the Python workers inherit the
environment it sets.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle
import platform
import shutil
import signal
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class RunDirs:
    """Per-run scratch space inside the checkout, removed by ``cleanup``."""

    base: Path

    @property
    def tmp(self) -> Path:
        return self.base / "tmp"

    @property
    def jar_cache(self) -> Path:
        return self.base / "xdg"

    @property
    def local(self) -> Path:
        return self.base / "local"

    @property
    def warehouse(self) -> Path:
        return self.base / "warehouse"

    @property
    def data(self) -> Path:
        return self.base / "data"

    def cleanup(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
        try:
            self.base.parent.rmdir()
        except OSError:
            pass  # another run is still using it


def isolate(label: str) -> RunDirs:
    """Point every cache, temp and spill location of this run at a fresh
    directory, so each run starts from the same state (in particular an
    empty on-disk jar cache: cold ``LANGUAGE JAVA`` compiles stay cold)."""
    dirs = RunDirs(ROOT / ".perfbench_work" / f"{label}-{os.getpid()}")
    shutil.rmtree(dirs.base, ignore_errors=True)
    for d in (dirs.tmp, dirs.jar_cache, dirs.local, dirs.warehouse, dirs.data):
        d.mkdir(parents=True)
    env = os.environ
    env["TMPDIR"] = str(dirs.tmp)
    env["XDG_CACHE_HOME"] = str(dirs.jar_cache)
    env["SPARK_LOCAL_DIRS"] = str(dirs.local)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    # every JVM (Spark driver, launcher, javac) keeps its temp files and
    # perf counters out of /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs.tmp}"
    # Python workers import the program from the checkout
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = str(dirs.tmp)
    return dirs


def session_conf(dirs: RunDirs) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": str(dirs.warehouse),
        "spark.local.dir": str(dirs.local),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(conf: dict[str, str]):
    """Build the session and run its first trivial job; returns
    ``(spark, build_spark seconds, total seconds)``."""
    from adhesive_spark.session import build_spark

    t0 = time.perf_counter()
    spark = build_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql("SELECT COUNT(*) FROM RANGE(10)").collect()
    return spark, t1 - t0, time.perf_counter() - t0


@dataclass
class Setup:
    """Cold start plus repeated session start-ups in the running JVM."""

    cold_start_s: float
    restart_s: list[float] = field(default_factory=list)
    build_s: list[float] = field(default_factory=list)

    @property
    def setup_s(self) -> float:
        return statistics.median(self.restart_s)


def set_up(conf: dict[str, str], restarts: int):
    """Cold-start a session, then stop and rebuild it ``restarts`` times.

    ``setup_s`` is the median of the rebuilds: the time from
    ``build_spark`` to the end of the first job with the JVM already up.
    The cold start (JVM launch included) is kept as its own figure.
    """
    spark, _, cold = start_session(conf)
    setup = Setup(cold_start_s=cold)
    for _ in range(restarts):
        spark.stop()
        spark, build, total = start_session(conf)
        setup.build_s.append(build)
        setup.restart_s.append(total)
    return spark, setup


def stop_all(spark) -> None:
    """Stops the session and the JVM it runs in, then waits until every
    process this run started (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    started = [pid for pid in _tree(os.getpid()) if pid != os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


class RssSampler:
    """Samples the summed resident memory of this process and all of its
    descendants (the Spark JVM, the Python worker daemon and its workers)."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return max(self.samples) / 2**20

    @property
    def median_mb(self) -> float:
        return statistics.median(self.samples) / 2**20

    def _run(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        root = os.getpid()
        while not self._stop.is_set():
            self.samples.append(_tree_rss_pages(root) * page)
            self._stop.wait(self.interval_s)


def _tree(root: int) -> dict[int, tuple[list[str], str]]:
    """pid -> (stat fields after the command name, statm) of ``root`` and
    every live descendant."""
    procs: dict[int, tuple[int, list[str], str]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry.name}/statm") as f:
                statm = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        fields = stat[stat.rindex(")") + 2 :].split()
        procs[int(entry.name)] = (int(fields[1]), fields, statm)
    out = {}
    for pid, (_, fields, statm) in procs.items():
        p = pid
        while p > 1 and p != root:
            p = procs[p][0] if p in procs else 0
        if p == root:
            out[pid] = (fields, statm)
    return out


def _tree_rss_pages(root: int) -> int:
    return sum(int(statm.split()[1]) for _, statm in _tree(root).values())


def tree_cpu_s() -> float:
    """CPU seconds used by this process and its descendants, including
    descendants that have exited and been reaped by one of them."""
    ticks = os.sysconf("SC_CLK_TCK")
    # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
    return sum(sum(int(x) for x in fields[11:15])
               for fields, _ in _tree(os.getpid()).values()) / ticks


def host_info(seed: int, spark) -> dict:
    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": round(mem_kb / 1024) if mem_kb else None,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": _git_commit(),
        "source_sha256": source_digest(),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "seed": seed,
    }


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def source_digest() -> str:
    """Digest of the program's sources; identifies the code when the
    checkout is not a git repository."""
    h = hashlib.sha256()
    files = sorted((ROOT / "adhesive_spark").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def result_bytes(result) -> int:
    return len(pickle.dumps(result, protocol=pickle.HIGHEST_PROTOCOL))


# --- result comparison ------------------------------------------------------


def _canon_value(v):
    import datetime
    import decimal

    import numpy as np
    import pandas as pd

    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        # DuckDB and Spark may type the same integral value differently
        return int(v) if math.isfinite(v) and v.is_integer() and abs(v) < 2**53 else v
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_value(x) for x in v)
    return v


def frame_rows(df) -> list[tuple]:
    """Order-insensitive canonical rows of a pandas frame, columns by name."""
    cols = sorted(df.columns)
    rows = [
        tuple(_canon_value(x) for x in rec)
        for rec in df[cols].itertuples(index=False, name=None)
    ]
    return sorted(rows, key=repr)


def frames_equal(spark_df, oracle_df) -> str | None:
    """None when both frames hold the same columns and the same multiset
    of values; otherwise a one-line reason."""
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns {sorted(spark_df.columns)} != {sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"rows {len(spark_df)} != {len(oracle_df)}"
    a, b = frame_rows(spark_df), frame_rows(oracle_df)
    if a != b:
        bad = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"value mismatch, e.g. {a[bad]!r} != {b[bad]!r}"
    return None
