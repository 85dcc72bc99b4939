#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median and quartile spread (IQR / median), the steadiness the bounds in
BENCHMARK.json are judged against.

    python3 perfbench/spread.py --workload extract_web --seeds 1-5 \
        [--out FILE] [--against EARLIER_FILE]

Runs are sequential, one benchmark process at a time, from the checkout
root. ``--out`` writes every run's result and detail line as JSON.
``--against`` compares each median with that of an earlier ``--out`` file
of the same workload: the relative change must stay within the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_range(text: str):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seeds", default="1-10")
    parser.add_argument("--out")
    parser.add_argument("--against")
    args = parser.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    runs = []
    for seed in seed_range(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        run_s = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
        runs.append({"seed": seed, "run_s": run_s, "result": result, "detail": detail})
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()
                if isinstance(v["value"], (int, float))}
        print(f"seed {seed}: correct={result['correct']} "
              f"{result['failed']}/{result['attempted']} failed "
              f"{run_s:.0f}s load={detail['loadavg']['start'][0]:.2f} "
              f"steal={detail.get('loop_steal_s', 0.0):.1f}s {json.dumps(vals)}", flush=True)

    summary = {}
    for m in bench["end_to_end"]:
        values = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        summary[m["name"]] = {
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "bound": m["bound"],
        }
        print(f"{m['name']}: median {med:.4f} spread {summary[m['name']]['spread']:.4f}"
              f" (bound {m['bound']}, a third {m['bound'] / 3:.4f})")
    if args.against:
        with open(args.against) as f:
            earlier = json.load(f)["summary"]
        for name, now in summary.items():
            before = earlier[name]["median"]
            change = (now["median"] - before) / before
            now["vs_earlier"] = change
            print(f"{name}: median {change:+.4f} against {args.against}"
                  f" ({'within' if abs(change) <= now['bound'] else 'OUTSIDE'} the bound)")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
