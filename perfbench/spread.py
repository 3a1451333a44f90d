"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload dag_nightly --seeds 1-10 [--seconds 3]

Runs the benchmark once per seed (sequentially, untraced) and prints,
per metric, the median and the quartile spread (Q3 - Q1) / median of
the values, with quartiles as ``statistics.quantiles(values, n=4)``
gives them, next to the metric's bound from BENCHMARK.json. A metric is
steady when its spread stays under a third of its bound. A run whose
output checks fail is named and still counted; the exit code is then 1.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    secs = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    bad = 0
    for seed in seeds(args.seeds):
        cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(secs), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        if out.returncode:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            return 1
        last = json.loads(out.stdout.strip().splitlines()[-1])
        if not last["correct"]:
            # the metrics still count; the run report names the failed checks
            bad += 1
            print(f"seed {seed}: incorrect, {last['failed']} of {last['attempted']} operations failed", flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{m['name']:>16}  median {statistics.median(v):10.4g}  spread {(q3 - q1) / statistics.median(v):6.3f}"
              f"  bound {m['bound']}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
