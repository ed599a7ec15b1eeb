"""Benchmark command: one named workload, one seed, one timed section.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run it from the root of a checkout, in the foreground (a throttled
background shell inflates every timing).  The last line of stdout is the
JSON result; a failed correctness check prints ``"correct": false`` and
exits 1.  ``--trace 1`` reports the per-layer metrics instead of the
end-to-end ones and writes the run's spans to ``.bench_out/``.
``--smoke`` runs a tiny size of the workload (for the self-test).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("kg_build", "kg_ingest", "dedup_ingest")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not (ROOT / "list_extractor_spark" / "engine" / "pipeline.py").is_file():
        print(f"error: no list_extractor_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    if args.selftest:
        from perfbench.selftest import main as selftest

        return selftest()
    if args.workload is None:
        ap.error("--workload is required")
    from perfbench.harness import run_workload

    return run_workload(
        args.workload, args.seed, args.seconds, bool(args.trace), args.smoke, T_START
    )


if __name__ == "__main__":
    sys.exit(main())
