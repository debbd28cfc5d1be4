#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric side by side.

    python3 perfbench/seeds.py --workload graph_serve --seeds 1 2 3 4 5 6 7 8 9 10
    python3 perfbench/seeds.py --workload llm_pipeline --seeds 1 2   # main seed + a second one

For every metric it prints the value per seed, the median, and the spread:
the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median, next to the
metric's bound from BENCHMARK.json. Raw result lines can be kept with --out.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default="")
    a = ap.parse_args()

    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    seconds = str(bench["run_seconds"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    results = {}
    for seed in a.seeds:
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", seconds, "--trace", str(a.trace)],
                           capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: run failed ({r.returncode})\n{r.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        results[seed] = json.loads(lines[-1])
        res = results[seed]
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}", flush=True)
    if a.out:
        Path(a.out).write_text(json.dumps(results, indent=1))

    names = list(next(iter(results.values()))["metrics"])
    print(f"\n{'metric':28s} " + " ".join(f"{s:>10d}" for s in a.seeds)
          + f" {'median':>10s} {'spread':>7s} {'bound':>6s}")
    for n in names:
        vals = [results[s]["metrics"][n]["value"] for s in a.seeds]
        med = statistics.median(vals)
        spread = float("nan")
        if len(vals) >= 2 and med:
            q = statistics.quantiles(vals, n=4)
            spread = (q[2] - q[0]) / med
        b = bounds.get(n)
        print(f"{n:28s} " + " ".join(f"{v:10.4g}" for v in vals)
              + f" {med:10.4g} {spread:7.3f} {'' if b is None else b:>6}")


if __name__ == "__main__":
    main()
