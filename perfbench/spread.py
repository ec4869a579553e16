"""Steadiness check: run the benchmark on several seeds and print, per
end-to-end metric, the median and the inter-quartile range as a share of
the median, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload lloyd --seeds 1-10

Run from the repository root; each seed is one ``perfbench/run.py``
process, run one after another.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["end_to_end"]
    values: dict[str, list[float]] = {m["name"]: [] for m in metrics}
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        if out.returncode != 0:
            print(out.stderr[-2000:], file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        for name in values:
            values[name].append(res["metrics"][name]["value"])
        print(f"seed {seed}: {time.perf_counter() - t0:.0f} s, correct="
              f"{res['correct']}, " + ", ".join(
                  f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    for m in metrics:
        vals = values[m["name"]]
        print(f"{m['name']:>14}: median {statistics.median(vals):.4g} "
              f"{m['unit']}, spread {spread(vals):.3f} (bound {m['bound']}, "
              f"target < {m['bound'] / 3:.3f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
