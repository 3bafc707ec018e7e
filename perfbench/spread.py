"""Run one workload on several seeds and report, per end-to-end metric, the
median and the quartile spread (q3 - q1 over the median, quartiles as
``statistics.quantiles(values, n=4)`` gives them) against its bound.

    python3 perfbench/spread.py --workload synth_bulk --seeds 1-10

Run from the root of a source checkout. Every result line is appended to
``.perfbench/results/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=_seeds, required=True, help="e.g. 1-10")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    log = ROOT / ".perfbench" / "results" / f"spread-{args.workload}.jsonl"
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True)
        line = out.stdout.strip().splitlines()[-1]
        with open(log, "a") as f:
            f.write(line + "\n")
        res = json.loads(line)
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}", flush=True)
        for name, v in res["metrics"].items():
            values[name].append(v["value"])
    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{m['name']:>12}: median {med:.4g} {m['unit']}, spread {share:.3f} "
              f"(bound {m['bound']}, target < {m['bound'] / 3:.3f})")


if __name__ == "__main__":
    main()
