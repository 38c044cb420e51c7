"""Plumbing shared by the benchmark workloads: where files go, the Spark
session, timing statistics, process-tree memory, and the Spark event-log
parser that turns one traced session into counters per job description.

Nothing here starts a thread, process or session at import time.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def library_present() -> bool:
    return (ROOT / "hyper_spark" / "__init__.py").is_file()


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_run_dir() -> Path:
    """A private work directory inside the checkout; temp files of
    Python, the JVM and Spark all land here."""
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir)
    tempfile.tempdir = str(run_dir)
    # Python workers import hyper_spark from the checkout being measured
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    return run_dir


def build_session(n_cores: int, run_dir: Path, event_dir: Path | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{n_cores}]")
        .appName("hyper_spark-perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(max(n_cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "200000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(run_dir / "spark-local"))
        .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
        # no hsperfdata under /tmp (the run writes only inside the checkout);
        # a fixed heap, so peak RSS does not depend on when the heap grew
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData -Xms2g")
        .config("spark.eventLog.enabled", "true" if event_dir else "false")
    )
    if event_dir:
        event_dir.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", str(event_dir))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the JVM gateway started by PySpark and wait for it (and the
    Python workers it forked) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # stuck JVM: kill, then reap
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    _reap_descendants()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _reap_descendants(timeout: float = 15.0) -> None:
    deadline = time.monotonic() + timeout
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 5:
        time.sleep(0.1)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    live descendants, reaped children included."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process plus every descendant (the
    driver JVM and its Python workers), sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = _rss_kb(me) + sum(_rss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def median(values) -> float:
    return float(statistics.median(values))


# -- Spark event log ------------------------------------------------------

COUNTERS = (
    "task_cpu_s",
    "task_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "python_bytes_sent",
    "tasks",
)

_PY_SENT = "data sent to Python workers"


def parse_event_log(event_dir: Path) -> dict[str, dict[str, float]]:
    """Sum task counters per ``spark.job.description`` over every event
    log in ``event_dir`` (uncompressed; v1 files or v2 rolling dirs)."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    paths = [p for p in sorted(event_dir.rglob("*")) if p.is_file()]
    for path in paths:
        if path.name.startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc or ""
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev["Stage ID"], "")
                    m = ev.get("Task Metrics") or {}
                    acc = out.setdefault(desc, dict.fromkeys(COUNTERS, 0.0))
                    acc["tasks"] += 1
                    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if a.get("Name") == _PY_SENT:
                            acc["python_bytes_sent"] += float(a.get("Update", 0))
    return out
