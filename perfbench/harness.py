"""Runs one workload: inputs, session, set-up, timed section, checks, and
the result line.  Metric names and units come from BENCHMARK.json, so the
file that declares the metrics and the line the benchmark prints cannot
drift."""

from __future__ import annotations

import importlib
import json
import shutil
import sys
import time
import traceback

from .common import OUT, ROOT, WORK, CheckFailed, Tracer, median, reset_dir, result_line
from .common import host_steal_s, start_spark, stop_spark, tree_cpu_s, tree_peak_rss_mb

SETUP_REPS = 3
# fewest timed ops of a closed loop: a median of fewer is one op's time
MIN_OPS = 3


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


class Ctx:
    """What a workload module gets: its seed, run length, size table,
    tracer and session, plus the set-up / input-generation bookkeeping
    that ``setup_s`` is derived from."""

    def __init__(self, seed, seconds, size, tracer, t_start):
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.tracer = tracer
        self.t_start = t_start
        self.spark = None
        self.input_gen_s = 0.0
        self.input_generated = False
        self._setup_extra = 0.0
        self.t_first_op = None
        self.cpu0 = 0.0
        self.marks = []  # (phase, seconds since process start), for the # line

    def mark(self, phase: str) -> None:
        self.marks.append((phase, time.perf_counter() - self.t_start))

    def inputs(self, fn):
        """Run an input-generation step; its time stays out of setup_s."""
        t = time.perf_counter()
        out = fn()
        self.input_gen_s += time.perf_counter() - t
        return out

    def repeated_setup(self, fn):
        """Run the workload's set-up SETUP_REPS times; setup_s counts the
        median repetition once."""
        times, out = [], None
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t)
        self._setup_extra += sum(times) - median(times)
        self.mark("setup")
        return out

    def start_timing(self) -> float:
        """Called right before the first timed op; returns its start time."""
        self.t_first_op = time.perf_counter()
        self.cpu0 = tree_cpu_s(self.spark)
        self.steal0 = host_steal_s()
        self.mark("warm")
        return self.t_first_op

    def another_op(self, t0: float, lat: list) -> bool:
        """Closed-loop stop rule: at least MIN_OPS ops, then another op while
        half of one (at the last op's time) still fits in the timed section,
        so the section ends as near its length as whole ops allow."""
        if len(lat) < MIN_OPS:
            return True
        return time.perf_counter() - t0 + lat[-1] / 2 < self.seconds

    def end_timing(self) -> None:
        """Called when the timed section's work is done, before the checks
        (which may start or retire Python workers of their own)."""
        self.timed_cpu_s = tree_cpu_s(self.spark) - self.cpu0
        self.peak_rss_mb = tree_peak_rss_mb(self.spark)
        self.timed_steal_s = host_steal_s() - self.steal0
        self.mark("timed")

    @property
    def setup_s(self) -> float:
        return self.t_first_op - self.t_start - self.input_gen_s - self._setup_extra


def run_workload(name, seed, seconds, trace, smoke, t_start) -> int:
    mod = importlib.import_module(f"perfbench.{name}")
    sp = spec()
    ctx = Ctx(seed, seconds, mod.SMOKE if smoke else mod.FULL, Tracer(trace), t_start)
    reset_dir(WORK)
    spark = None
    try:
        mod.make_inputs(ctx)
        ctx.mark("inputs")
        ctx.spark = spark = start_spark(f"perfbench-{name}")
        ctx.mark("session")
        res = mod.run(ctx)
        ctx.mark("checks")
    except CheckFailed as e:
        print(f"CHECK FAILED [{name}]: {e}", file=sys.stderr)
        print(result_line(False, 1, 1, {}))
        return 1
    except Exception:  # noqa: BLE001 - report any crash as a failed run
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    ctx.mark("stop")

    e2e = dict(res["e2e"])
    e2e["setup_s"] = ctx.setup_s
    e2e["peak_rss_mb"] = ctx.peak_rss_mb
    e2e["cpu_ms_per_doc"] = 1000.0 * ctx.timed_cpu_s / res["timed_docs"]
    layer = dict(res.get("layer", {}))
    layer["bench.input_gen_s"] = ctx.input_gen_s
    print(
        f"# {name} seed={seed} size={ctx.size} ops={res['attempted']} "
        f"input_gen_s={ctx.input_gen_s:.3f} generated={ctx.input_generated} "
        f"phases={','.join(f'{k}:{v:.1f}' for k, v in ctx.marks)} timed_steal_s={ctx.timed_steal_s:.1f} "
        + " ".join(f"{k}={v}" for k, v in sorted(res.get("info", {}).items()))
    )
    if trace:
        path = OUT / f"spans_{name}_seed{seed}.json"
        ctx.tracer.write(path)
        print(f"# spans: {path}")
        wanted, values = sp["per_layer"], layer
    else:
        wanted, values = sp["end_to_end"], e2e
    metrics = {}
    for m in wanted:
        # a per-layer metric of a layer this workload never calls reads 0
        v = values.get(m["name"], 0.0 if trace else None)
        if v is None:
            raise RuntimeError(f"{name} did not measure {m['name']}")
        metrics[m["name"]] = (v, m["unit"])
    print(result_line(True, res["attempted"], res["failed"], metrics))
    return 0
