"""Tracing overhead and count repeatability for one workload.

    python3 perfbench/check_trace.py --workload NAME [--seed N] [--seconds S]

Runs ``run.py`` three times at one seed: untraced, traced, traced.  It
prints the tracing overhead (traced minus untraced cold and warm pass
time) and checks that the per-layer counts repeat exactly across the
two traced runs.  It reads every metric from the runs' artifacts, not
only the ones the result line carries.  Exit code 1 if a count differs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

COUNTS = ("plans.build_jobs", "plans.run_jobs", "fragments.hits",
          "fragments.misses", "table_format.calls", "table_format.bytes_written_mb",
          "pipeline.rows_loaded")


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """Every metric of one run (name -> {"value", "unit"}), from its
    artifact: end-to-end untraced, per-layer traced."""
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        sys.exit(f"run.py --trace {trace} failed:\n{out.stderr[-2000:]}")
    path = os.path.join(ROOT, ".perfbench_work", "results",
                        f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        artifact = json.load(f)
    return artifact["per_layer" if trace else "end_to_end"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    args = ap.parse_args()

    plain = run_once(args.workload, args.seed, args.seconds, 0)
    a = run_once(args.workload, args.seed, args.seconds, 1)
    b = run_once(args.workload, args.seed, args.seconds, 1)

    for name in ("cold_pass_s", "warm_pass_s"):
        if name not in plain:
            continue
        base = plain[name]["value"]
        traced = [m[f"trace.{name}"]["value"] for m in (a, b)]
        print(f"{args.workload} tracing overhead {name}: untraced {base:.3f} s, "
              f"traced {traced[0]:.3f} s ({(traced[0] - base) / base:+.1%}) and "
              f"{traced[1]:.3f} s ({(traced[1] - base) / base:+.1%})")
    print(f"{args.workload} wrapper bookkeeping: "
          f"{a['trace.bookkeeping_s']['value']:.4f} s")

    bad = 0
    for name in COUNTS:
        va, vb = a[name]["value"], b[name]["value"]
        same = va == vb
        bad += not same
        print(f"{args.workload} {name}: {va} vs {vb} {'same' if same else 'DIFFERENT'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
