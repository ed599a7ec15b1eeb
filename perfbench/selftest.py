"""Self-test of the benchmark (``python3 perfbench/run.py --selftest``).

For each workload, at its tiny smoke size:
  * ``--trace 0`` and ``--trace 1`` runs exit 0, report ``correct: true``
    and print every metric BENCHMARK.json names, with its unit;
  * a run whose program output is corrupted exits 1 with
    ``correct: false``.  The corruption is patched into the program's
    public function inside that child process only: one mutated triple
    (kg_build), one dropped micro-batch commit (kg_ingest), verdicts that
    keep every doc (dedup_ingest).
"""

from __future__ import annotations

import json
import subprocess
import sys

from .common import ROOT
from .harness import spec

SMOKE_SECONDS = "2"


def _last_json(out: str):
    lines = [ln for ln in out.strip().splitlines() if ln.startswith("{")]
    return json.loads(lines[-1]) if lines else None


def _run(args) -> tuple[int, dict | None]:
    p = subprocess.run(args, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode not in (0, 1):
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, _last_json(p.stdout)


def corrupted(workload: str) -> int:
    """Child-process entry: run ``workload`` at smoke size with its output
    corrupted."""
    import time

    from pyspark.sql import functions as F

    from list_extractor_spark.engine import snapshots
    from list_extractor_spark.tda import dedup

    from .harness import run_workload

    t_start = time.perf_counter()
    write = snapshots.write_graph_snapshot
    calls = []

    if workload == "kg_build":

        def bad_write(triples, path, mode="append", marker=None):
            calls.append(path)
            if calls.count(path) == 2 and path.endswith("kg_table"):  # the second timed op
                h = F.xxhash64("subj", "pred", "obj", "obj_dt")
                triples = triples.withColumn(
                    "obj", F.when(h % 50 == 0, F.concat("obj", F.lit("#"))).otherwise(F.col("obj"))
                )
            return write(triples, path, mode=mode, marker=marker)

        snapshots.write_graph_snapshot = bad_write
    elif workload == "kg_ingest":

        def drop_batch(triples, path, mode="append", marker=None):
            if marker == "batch-2":  # the first timed batch: lost commit
                return None
            return write(triples, path, mode=mode, marker=marker)

        snapshots.write_graph_snapshot = drop_batch
    else:
        judge = dedup.dedup_incoming

        def keep_all(corpus, incoming, **kw):
            return judge(corpus, incoming, **kw).withColumn("keep", F.lit(True))

        dedup.dedup_incoming = keep_all
    return run_workload(workload, 1, float(SMOKE_SECONDS), False, True, t_start)


def main() -> int:
    sp = spec()
    run = [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds", SMOKE_SECONDS, "--smoke"]
    failures = []
    for w in (x["name"] for x in sp["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = _run(run + ["--workload", w, "--trace", str(trace)])
            want = {m["name"]: m["unit"] for m in sp[key]}
            got = {k: v.get("unit") for k, v in (res or {}).get("metrics", {}).items()}
            ok = rc == 0 and res is not None and res["correct"] is True and got == want
            print(f"{'ok  ' if ok else 'FAIL'} {w} --trace {trace}: rc={rc} metrics={len(got)}/{len(want)}")
            if not ok:
                failures.append(f"{w} trace {trace}")
        boot = (
            f"import sys; sys.path.insert(0, {str(ROOT)!r}); "
            f"from perfbench.selftest import corrupted; sys.exit(corrupted({w!r}))"
        )
        rc, res = _run([sys.executable, "-c", boot])
        ok = rc == 1 and res is not None and res["correct"] is False
        print(f"{'ok  ' if ok else 'FAIL'} {w} corrupted output is caught: rc={rc}")
        if not ok:
            failures.append(f"{w} corruption")
    print("selftest:", "FAILED " + ", ".join(failures) if failures else "passed")
    return 1 if failures else 0
