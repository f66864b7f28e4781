"""Run one workload over several seeds and report each metric's median and
spread (interquartile range over median), the steadiness test the
benchmark's bounds are judged by.

    python3 perfbench/spread.py --workload kg_front --seeds 1-10 [--trace 1]

Each run is a separate ``perfbench/run.py`` process, one after another.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, cwd=os.path.dirname(HERE))
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        for line in proc.stderr.replace("\r", "\n").splitlines():
            if line.startswith(("setup", "iteration")):
                print(f"  {line}", file=sys.stderr)
        print(f"seed {seed}: {time.time() - t0:.0f} s wall, "
              f"{result['attempted'] - result['failed']}/{result['attempted']} ok, "
              + " ".join(f"{k}={m['value']:.4g}"
                         for k, m in list(result["metrics"].items())[:8]),
              file=sys.stderr)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        mark = "" if bound is None else (
            f"  bound {bound:.2f} ({'ok' if spread < bound / 3 else 'WIDE'})")
        print(f"{name:32s} median {med:12.4f}  spread {spread:6.3f}{mark}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
