"""The timed operations: each is one call into the program's public API,
consumed to the end inside the timed region."""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

TRIPLE_COLUMNS = ("subj", "pred", "obj", "doc_id", "frame_id", "confidence")


def digest(df) -> Tuple[int, int, int]:
    """Row count plus two order-insensitive sums over a 64-bit row hash,
    split into 32-bit halves so the sums cannot overflow. Computing it
    reads every column of every row."""
    import pyspark.sql.functions as F

    h = F.xxhash64(*[F.col(c) for c in TRIPLE_COLUMNS])
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.bitwiseAND(0xFFFFFFFF)).alias("lo"),
        F.sum(F.shiftrightunsigned(h, 32)).alias("hi"),
    ).first()
    return int(row["n"]), int(row["lo"] or 0), int(row["hi"] or 0)


def extract(spark, corpus_dir: str) -> Tuple[int, int, int]:
    """One uncached documents -> triples extract of the batch plan."""
    from dere_spark.webtext import build_stages

    return digest(build_stages(spark, corpus_dir)["triples"])


@dataclass
class StepResult:
    wall_s: float
    digest: Tuple[int, int, int]
    manifests: Dict[str, Dict] = field(default_factory=dict)
    reused: List[bool] = field(default_factory=list)


def persisted_cycle(run, root: str) -> Tuple[StepResult, StepResult]:
    """A checkpointed run into an empty ``root``, then a resume of it."""
    from dere_spark.plans.checkpoint import run_checkpointed_extraction

    shutil.rmtree(root, ignore_errors=True)
    steps = []
    for _ in range(2):
        t0 = time.perf_counter()
        out = run_checkpointed_extraction(run.spark, run.corpus_dir, root)
        d = digest(out["triples"])
        wall = time.perf_counter() - t0
        pipe = out["_pipeline"]
        steps.append(
            StepResult(
                wall,
                d,
                {s: dict(pipe.stages[s].manifest) for s in ("spans", "frames", "triples")},
                [pipe.reused(s) for s in ("spans", "frames", "triples")],
            )
        )
    return steps[0], steps[1]
