"""Shared plumbing of the benchmark: the pinned Spark session, process
counters read from /proc, Spark status-store sums per job group, span
tracing, percentiles and the result line.

Everything the benchmark writes lives under the checkout: ``.bench_cache/``
(seeded inputs, reused across runs), ``.bench_work/`` (per-run state, wiped
at start and end) and ``.bench_out/`` (span files of traced runs).
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import statistics
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CACHE = ROOT / ".bench_cache"
WORK = ROOT / ".bench_work"
OUT = ROOT / ".bench_out"

# host-derived, never the engine's 32-core session default
CORES = max(1, len(os.sched_getaffinity(0)))
# fixed-size heap (-Xms = -Xmx): a heap that grows on demand makes the
# JVM's resident size depend on GC timing, which peak_rss_mb would report
HEAP = "2g"
# C1-only JIT.  With the default tiered JIT, C2 keeps compiling for minutes:
# a 10-40 s run times ops that are still getting faster (4.4 s -> 2.3 s over
# 14 kg_build ops on a 4-core VM) while the compiler threads take cores from
# the workload, so run-to-run spread follows how far the warm-up got.  C1
# code settles within about two ops and costs no compiler cores after.
JIT = "-XX:TieredStopAtLevel=1"


class CheckFailed(Exception):
    """An output of the program under test is wrong."""


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


# ---------------------------------------------------------------- session


def start_spark(app: str):
    """local[CORES] session with shuffle partitions = CORES, every local and
    temp dir inside the checkout, a fixed 2 GB JVM heap that leaves most of
    a 15 GB host free, and the C1-only JIT.  Engine env overrides are
    dropped so the caller's shell cannot change the benchmark's settings."""
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") or k in ("SPARK_DRIVER_MEMORY", "PYSPARK_SUBMIT_ARGS"):
            del os.environ[k]
    local = WORK / "spark-local"
    tmp = WORK / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    import tempfile

    tempfile.tempdir = str(tmp)
    from list_extractor_spark.engine.session import get_spark

    return get_spark(
        app,
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP} {JIT}",
            "spark.local.dir": str(local),
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort at shutdown
            proc.kill()
            proc.wait(timeout=10)


def reset_dir(p: Path) -> Path:
    shutil.rmtree(p, ignore_errors=True)
    p.mkdir(parents=True)
    return p


# ------------------------------------------------------------ /proc reads

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rfind(")") + 2 :].split()


def jvm_tree(spark) -> list[int]:
    """pid of the JVM plus every descendant (the pyspark daemon and its
    Python workers)."""
    root = spark.sparkContext._gateway.proc.pid
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f:
                kids.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(spark) -> float:
    """utime+stime of the JVM tree, including reaped children."""
    total = 0
    for pid in jvm_tree(spark):
        f = _stat_fields(pid)
        if f:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this VM's CPUs
    wanted to run, summed over CPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def tree_peak_rss_mb(spark) -> float:
    """Sum of VmHWM over the JVM tree."""
    kb = 0
    for pid in jvm_tree(spark):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


# ------------------------------------------------------ Spark status store


def group_stage_sums(spark, group: str) -> dict:
    """Shuffle bytes written and executor run/CPU time summed over the
    stages of every job tagged with ``group`` (read from the status store,
    so no extra Spark job runs)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_ids = set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        if g.isDefined() and g.get() == group:
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
    out = {"shuffle_bytes": 0, "run_ms": 0, "cpu_ns": 0}
    if not stage_ids:
        return out
    sc = spark.sparkContext
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, None)
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() in stage_ids:
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["run_ms"] += s.executorRunTime()
            out["cpu_ns"] += s.executorCpuTime()
    return out


# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans (name, start, end, parent, op id, attrs).  Disabled,
    ``span`` costs one attribute test; the parent is the innermost open span
    of the calling thread."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, op=None, spark=None, **attrs):
        if not self.enabled:
            yield {}
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "op": op if op is not None else (stack[-1]["op"] if stack else None),
            "attrs": dict(attrs),
            "group": f"span-{sid}" if spark is not None else None,
        }
        if spark is not None:
            # tag the layer's Spark jobs so the status store can be summed
            # per span afterwards
            spark.sparkContext.setJobGroup(rec["group"], name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if spark is not None:
                if stack and stack[-1].get("group"):
                    spark.sparkContext.setJobGroup(stack[-1]["group"], stack[-1]["name"])
                else:
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def self_times(self) -> dict:
        """name -> summed self time (duration minus time covered by the
        span's children)."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out: dict = {}
        for s in self.spans:
            covered = sum(c["end"] - c["start"] for c in kids.get(s["id"], []))
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {
                "name": s["name"],
                "start": s["start"] - t0,
                "end": s["end"] - t0,
                "parent": s["parent"],
                "id": s["id"],
                "op": s["op"],
                **({"attrs": s["attrs"]} if s["attrs"] else {}),
            }
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        path.write_text(json.dumps(rows, indent=0, default=str))


# ------------------------------------------------------------ statistics


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that leaves at least
    10 samples above it, never below the median."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    pct = max(50.0, 100.0 * (1.0 - 10.0 / n))
    if pct == 50.0:
        return median(xs), pct, n
    return float(xs[math.ceil(pct / 100.0 * n) - 1]), pct, n


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )
