"""Shared helpers for the benchmark: statistics, the pinned run
environment, Spark settings for a run, event-log parsing and process-tree
memory sampling.

Everything here is used from the benchmark's own processes; nothing in the
engine package is modified.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
SPEC = json.loads((BENCH_DIR / "spec.json").read_text())


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- statistics ----------------------------------------------------------------


def pct(values: list[float], q: float) -> float:
    """Percentile by linear interpolation between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summary(values: list[float]) -> dict:
    """Median, p90 and the sample count of one timing series."""
    return {"p50": pct(values, 50), "p90": pct(values, 90), "n": len(values)}


def passes(seconds: float, nominal_s: float) -> int:
    """Closed-loop repetitions that fill about ``seconds`` at the nominal
    duration of one: a fixed count for a given --seconds, so a slower run
    does the same work (and warms the JIT the same way) as a faster one."""
    return max(2, round(seconds / nominal_s))


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


# -- environment -----------------------------------------------------------------


def run_env(run_dir: Path) -> dict:
    """Environment for every process of a run: cores pinned to the box,
    a fresh Spark local dir and temp dir inside the run directory."""
    local = run_dir / "spark-local"
    tmp = run_dir / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_DRIVER_MEM": SPEC["spark_driver_memory"],
            "SPARK_LOCAL_DIRS": str(local),
            "TMPDIR": str(tmp),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p
            ),
            "PYTHONHASHSEED": "0",
        }
    )
    return env


def spark_conf(run_dir: Path, trace: bool) -> dict[str, str]:
    """Extra Spark settings for a run: warehouse and JVM temp files stay in
    the run directory; a traced run also writes Spark's event log there."""
    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        ev = run_dir / "eventlog"
        ev.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{ev}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def env_record(seed: int) -> dict:
    """What a result must carry to be comparable with another one. A
    checkout without git history still gets a digest of the engine sources."""
    import pyspark

    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    sha = os.environ.get("PERFBENCH_GIT_SHA")
    if not sha:
        try:
            sha = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=30,
            ).stdout.strip() or "unknown"
        except (OSError, subprocess.SubprocessError):
            sha = "unknown"
    digest = hashlib.sha256()
    for path in sorted([*ROOT.glob("zenodb_spark/**/*.py"), ROOT / "bench.py"]):
        digest.update(path.relative_to(ROOT).as_posix().encode())
        digest.update(path.read_bytes())
    return {
        "git_sha": sha,
        "source_sha256": digest.hexdigest(),
        "nproc": nproc(),
        "spark_master": f"local[{nproc()}]",
        "pyspark": pyspark.__version__,
        "java": java,
        "python": sys.version.split()[0],
        "seed": seed,
    }


# -- Spark event log --------------------------------------------------------------


def parse_event_log(event_dir: Path) -> dict:
    """Jobs, stages and task metrics per job group from Spark's event log.

    Returns ``{group: {"jobs", "stages", "tasks", "max_task_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"}}``; jobs
    started outside any group are filed under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(g: str) -> dict:
        return out.setdefault(
            g,
            {"jobs": 0, "stages": 0, "tasks": 0, "max_task_s": 0.0,
             "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0},
        )

    for path in sorted(event_dir.iterdir()):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    b = bucket(g)
                    b["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    bucket(stage_group.get(sid, ""))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    b = bucket(stage_group.get(ev.get("Stage ID"), ""))
                    b["tasks"] += 1
                    info = ev.get("Task Info", {})
                    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000
                    b["max_task_s"] = max(b["max_task_s"], dur)
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    b["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out


ERROR_LINE = re.compile(r"\bERROR\b")


def count_error_lines(log_path: Path) -> int:
    if not log_path.exists():
        return 0
    with open(log_path, errors="replace") as f:
        return sum(1 for line in f if ERROR_LINE.search(line))


# -- memory -----------------------------------------------------------------------


def _tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        pid, ppid = int(d), int(fields[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = int(fields[21]) * page
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, []))
    return total


class RssSampler:
    """Samples the resident memory of a process and all its descendants
    (the JVM and Python workers included) until stopped; keeps the max."""

    def __init__(self, pid: int, interval: float = 0.25):
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Stop a worker's whole process group (JVM and Python workers too) and
    wait until every member has ended."""
    pgid = proc.pid
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if proc.poll() is not None and not _group_alive(pgid):
                return
            time.sleep(0.1)
    proc.wait(timeout=5)


def now() -> float:
    return time.perf_counter()
