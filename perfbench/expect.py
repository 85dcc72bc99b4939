#!/usr/bin/env python3
"""Record the triples each workload's seeds must give.

    python3 perfbench/expect.py --seeds 1-64 [--workload extract_dense ...]

Generates each seed's corpus exactly as a benchmark run does, extracts its
triples once with the batch plan in one session, and writes the
order-insensitive digests to ``expected.json``. Every run checks its
triples against that record; it is the in-run stand-in for the sf0.1
anchor (``anchor.py``), which reads outside the checkout. Record again
only for a program change that is meant to change the triples.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import ops  # noqa: E402
import run as bench  # noqa: E402
from spread import seed_range  # noqa: E402


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--seeds", default="1-64")
    parser.add_argument("--workload", action="append")
    args = parser.parse_args(argv)

    profiles = bench._load_json("workloads.json")["workloads"]
    path = os.path.join(HERE, "expected.json")
    expected = bench._load_json("expected.json") if os.path.exists(path) else {}
    workloads = args.workload or sorted(profiles)
    run = bench.Run(workloads[0], 0, profiles[workloads[0]])
    run._prepare_env()
    try:
        run.start_session(run.cpus)
        for workload in workloads:
            for seed in seed_range(args.seeds):
                run.workload, run.seed, run.profile = workload, seed, profiles[workload]
                run.generate()
                outcome = list(ops.extract(run.spark, run.corpus_dir))
                expected.setdefault(workload, {})[str(seed)] = outcome
                print(f"{workload} seed {seed}: {outcome}", flush=True)
    finally:
        run.close()
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:
            pass
    # one seed per line
    blocks = []
    for workload, record in sorted(expected.items()):
        seeds = sorted(record, key=int)
        rows = ",\n".join(f"  {json.dumps(s)}: {json.dumps(record[s])}" for s in seeds)
        blocks.append(f" {json.dumps(workload)}: {{\n{rows}\n }}")
    with open(path, "w") as f:
        f.write("{\n" + ",\n".join(blocks) + "\n}\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
