"""The traced run: a per-layer profile of one workload's corpus.

Every layer is measured from outside, by timing calls into its public
functions and by reading Spark's plan and task statistics for each call
(see ``sparkstats``). Each traced run profiles every layer on its own
corpus, so every per-layer metric is a measurement on every workload.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from typing import Dict, Tuple

import ops
import sparkstats

STAGES = ("documents", "tokens", "spans", "pairs", "frames", "triples")
CKPT_STAGES = ("spans", "frames", "triples")
QUERIES = (
    "kg_spans",
    "kg_triples",
    "kg_triple_stats",
    "eval_span_counts",
    "topk_terms_per_lang",
    "dedup_minhash_signatures",
    "dedup_lsh_candidates",
    "dedup_jaccard_verified",
    "dedup_simhash",
    "entity_canon_candidates",
    "text_quality",
    "text_language_id",
)
#: Streaming file drops the corpus lands in; drops after the first give
#: ``stream.drop_p50_s``, so three of them make it a real median.
STREAM_DROPS = 4
#: Jaccard at or above which a candidate counts as a verified near-duplicate
#: (the threshold the repository's near-dup cluster queries use).
VERIFIED_JACCARD = 0.8


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _observed_noop(df) -> int:
    """Run ``df`` into the noop sink, counting its rows in-band."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    obs = Observation()
    _noop(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return int(obs.get["rows"])


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def _triples_noop(run) -> float:
    """Untraced noop-sink wall of the full batch plan."""
    from dere_spark.webtext import build_stages

    t0 = time.perf_counter()
    run.timed(lambda: _noop(build_stages(run.spark, run.corpus_dir)["triples"]))
    return time.perf_counter() - t0


def stage_profile(run, out: Dict) -> None:
    """Executor CPU, rows and plan statistics of every stage prefix of the
    batch plan, each run once into the noop sink. A stage's ``.s`` is the
    executor CPU seconds of its whole prefix, documents to that stage; a
    change to one layer moves the ``.s`` of its stage and of every later
    one. The difference of two prefixes is not the later stage's cost: a
    later stage lets the optimizer drop columns the earlier prefix has to
    produce for the sink, so a longer prefix can cost less.

    ``trace.overhead_pct`` is the driver time spent reading Spark's
    statistics after the calls, as a share of the calls' walls."""
    from dere_spark.webtext import build_stages

    rows = {}
    walls = reads = 0.0
    for stage in STAGES:
        with sparkstats.traced(run.spark, f"stage-{stage}") as g:
            rows[stage] = run.timed(
                lambda: _observed_noop(build_stages(run.spark, run.corpus_dir)[stage])
            )
        t0 = time.perf_counter()
        plan = sparkstats.PlanTree(g.final_plan())
        totals = g.stage_totals()
        out[f"{stage}.s"] = g.task_cpu_s()
        out[f"{stage}.rows"] = rows[stage]
        if stage in ("documents", "pairs", "triples"):
            out[f"{stage}.exchanges"] = plan.exchanges()
        if stage == "tokens":
            out["tokens.task_skew"] = g.task_skew()
            out["tokens.spill_bytes"] = totals["spill_bytes"]
        if stage == "pairs":
            out["pairs.doc_scans"] = plan.source_reads()
            out["pairs.shuffle_write_bytes"] = totals["shuffle_write_bytes"]
            out["pairs.spill_bytes"] = totals["spill_bytes"]
        reads += time.perf_counter() - t0
        walls += g.wall_s
    out["frames.pairs_per_frame"] = rows["pairs"] / rows["frames"] if rows["frames"] else 0.0
    out["trace.overhead_pct"] = 100.0 * reads / walls


def query_profile(run, out: Dict) -> None:
    """Cold materialization of the cached stage prefix, then one call of
    each headline query on the warm session, into the noop sink.

    ``dedup_exact`` is left out: its seeded-duplicate rule casts
    ``doc_id`` to bigint, which fails (CAST_INVALID_INPUT) on url ids."""
    from dere_spark.queries import QUERIES as REGISTRY
    from dere_spark.webtext import cached_stages, invalidate_cached_stages

    invalidate_cached_stages(run.spark, run.corpus_dir)
    t0 = time.perf_counter()

    def prefix() -> Tuple[int, int]:
        st = cached_stages(run.spark, run.corpus_dir)
        return st["spans"].count(), st["triples"].count()

    spans_rows, triples_rows = run.timed(prefix)
    out["cache.prefix_s"] = time.perf_counter() - t0
    out["cache.bytes"] = sparkstats.cached_bytes(run.spark)
    out["cache.spans_rows"] = spans_rows
    out["cache.triples_rows"] = triples_rows

    # the verified pairs are small; they are collected (not sunk) so the
    # same call also gives the dedup ratios
    verified = []

    def call(name: str) -> None:
        df = REGISTRY[name](run.spark, run.corpus_dir)
        if name == "dedup_jaccard_verified":
            verified.extend(df.select("doc_a", "doc_b", "jaccard").collect())
        else:
            _noop(df)

    suite = 0.0
    for name in QUERIES:

        def one() -> None:
            with sparkstats.traced(run.spark, f"q-{name}") as g:
                run.timed(lambda: call(name))
            out[f"q.{name}.s"] = g.wall_s
            out[f"q.{name}.exchanges"] = sparkstats.PlanTree(g.final_plan()).exchanges()
            out[f"q.{name}.shuffle_write_bytes"] = g.stage_totals()["shuffle_write_bytes"]

        run.guarded(f"query {name}", one)
        suite += out.get(f"q.{name}.s", 0.0)
    out["q.suite_s"] = suite

    candidates = {(r["doc_a"], r["doc_b"]) for r in verified}
    n_verified = sum(1 for r in verified if r["jaccard"] >= VERIFIED_JACCARD)
    out["dedup.verified_per_candidate"] = n_verified / len(candidates) if candidates else 0.0
    injected = run.injected_pairs
    found = sum(1 for p in injected if p in candidates)
    out["dedup.injected_recall"] = found / len(injected) if injected else 0.0
    invalidate_cached_stages(run.spark, run.corpus_dir)


def persist_profile(run, out: Dict) -> None:
    """Checkpointed run and resume, streaming drops, write amplification,
    and the batch/checkpoint triple drift on this corpus."""
    import corpus
    from dere_spark.streaming.pipeline import stream_extract_triples
    from dere_spark.webtext import build_stages

    root = os.path.join(run.work, "trace-ckpt")
    first, resume = run.timed(lambda: ops.persisted_cycle(run, root))
    run.check("resume reuses spans, frames and triples", all(resume.reused))
    run.check("resume returns the first run's triples", resume.digest == first.digest)
    out["ckpt.run_s"] = first.wall_s
    out["ckpt.resume_s"] = resume.wall_s
    out["ckpt.reused"] = sum(resume.reused)
    ckpt_bytes = 0
    for stage in CKPT_STAGES:
        manifest = first.manifests[stage]
        size = _du(os.path.join(root, stage, "data"))
        ckpt_bytes += size
        out[f"ckpt.{stage}.s"] = manifest["wall_sec"]
        out[f"ckpt.{stage}.rows"] = manifest["rows"]
        out[f"ckpt.{stage}.bytes"] = size
    cols = list(ops.TRIPLE_COLUMNS)
    ckpt = run.spark.read.parquet(os.path.join(root, "triples", "data")).select(*cols)

    # mode drift: batch plan (Treebank tokenizer) against the checkpointed
    # path (whitespace tokenizer), as a count of differing rows
    batch = build_stages(run.spark, run.corpus_dir)["triples"].select(*cols).persist()
    try:
        out["mode_drift_rows"] = run.timed(
            lambda: batch.exceptAll(ckpt).count() + ckpt.exceptAll(batch).count()
        )
    finally:
        batch.unpersist()
    if run.profile["punct_share"] == 0:
        run.check("batch and checkpointed triples agree on unpunctuated text",
                  out["mode_drift_rows"] == 0)

    src = os.path.join(run.work, "stream-src")
    sink = os.path.join(run.work, "stream-out")
    chk = os.path.join(run.work, "stream-chk")
    drops = []
    for k, part in enumerate(corpus.split_drops(run.table, STREAM_DROPS)):
        corpus.write_table(part, os.path.join(src, f"drop-{k:03d}.parquet"))

        def drain() -> None:
            query = stream_extract_triples(run.spark, src, sink, chk, available_now=True)
            query.awaitTermination()
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))

        t0 = time.perf_counter()
        run.timed(drain)
        drops.append(time.perf_counter() - t0)
    out["stream.first_drop_s"] = drops[0]
    out["stream.drop_p50_s"] = statistics.median(drops[1:])
    out["stream.drops"] = len(drops)
    stream_bytes = _du(sink)
    out["stream.output_bytes"] = stream_bytes
    out["write_amp"] = (ckpt_bytes + stream_bytes) / run.text_bytes

    streamed = run.spark.read.parquet(sink).select(*cols)
    same = run.timed(
        lambda: streamed.exceptAll(ckpt).count() + ckpt.exceptAll(streamed).count()
    )
    run.check("streamed triples equal checkpointed triples", same == 0)
    for d in (root, src, sink, chk):
        shutil.rmtree(d, ignore_errors=True)


def scaling_profile(run, out: Dict) -> None:
    """Full batch plan wall at local[1] against local[nproc];
    efficiency is (T1 / Tn) / n."""
    n = run.cpus
    wall_n = _triples_noop(run)
    run.restart_session(cpus=1)
    try:
        wall_1 = _triples_noop(run)
    finally:
        run.restart_session(cpus=n)
    out["scaling.eff_1_to_n"] = (wall_1 / wall_n) / n


def profile(run, setup_parts: Dict[str, float], detail: Dict) -> Dict[str, float]:
    """Every per-layer metric for this run's corpus; a section that fails
    is counted and leaves its metrics unmeasured. Each section's wall goes
    into ``detail``."""
    out: Dict[str, float] = {
        "setup.session_s": setup_parts["session_s"],
        "setup.generate_s": setup_parts["generate_s"],
        "setup.warmup_s": setup_parts["warmup_s"],
        "setup.cold_cpu_s": setup_parts["cold_cpu_s"],
    }
    # set-up warms on a slice; one full-size call before profiling, whose
    # triples are checked against the recorded digest
    warm = run.guarded("warm-up operation", lambda: run.timed(run.op))
    if warm is not None:
        run.check_expected(warm[3])
    sections = {
        "stages": stage_profile,
        "queries": query_profile,
        "persist": persist_profile,
        "scaling": scaling_profile,
    }
    detail["section_walls"] = {}
    for name, section in sections.items():
        t0 = time.perf_counter()
        run.guarded(name, lambda: section(run, out))
        detail["section_walls"][name] = time.perf_counter() - t0
    return out
