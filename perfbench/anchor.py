#!/usr/bin/env python3
"""One-time anchor: the batch plan's triples on an existing documents table.

    python3 perfbench/anchor.py <sf-dir> --expect 78172

``<sf-dir>`` holds ``documents.parquet``; the sf0.1 test table gives
78,172 triples. Prints the row count and the order-insensitive digest the
benchmark checks, and exits 1 when ``--expect`` does not match. This reads
outside the checkout, so it is not part of a benchmark run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("sf_dir")
    parser.add_argument("--expect", type=int)
    args = parser.parse_args(argv)

    import ops
    from dere_spark.session import get_spark
    from dere_spark.webtext import build_stages

    spark = get_spark("perfbench-anchor", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        n, lo, hi = ops.digest(build_stages(spark, args.sf_dir)["triples"])
    finally:
        spark.stop()
    print(json.dumps({"sf_dir": args.sf_dir, "triples": n, "digest": [n, lo, hi]}))
    return 0 if args.expect is None or n == args.expect else 1


if __name__ == "__main__":
    sys.exit(main())
