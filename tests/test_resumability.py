"""Checkpoint/lineage resumability, skew helpers, splits, tuning, streaming."""

from __future__ import annotations

import json
import shutil

import pyspark.sql.functions as F
import pytest

from dere_spark.operators.corpus_ops import deterministic_split
from dere_spark.operators.skew import salted_count, salted_dim_join
from dere_spark.plans.checkpoint import CheckpointedPipeline, run_checkpointed_extraction
from dere_spark.plans.tuning import grid_search
from dere_spark.sources.documents import load_documents
from dere_spark.webtext import extract_triples


def test_checkpointed_pipeline_matches_direct(spark, sf_dir, tmp_path):
    root = str(tmp_path / "cp")
    out = run_checkpointed_extraction(spark, sf_dir, root)
    direct = extract_triples(spark, sf_dir)
    assert out["triples"].count() == direct.count()
    # manifests carry lineage: per-partition row counts + chained fingerprints
    m = json.load(open(f"{root}/triples/manifest.json"))
    assert m["rows"] == direct.count()
    assert m["partitions"] and all("rows" in p for p in m["partitions"])
    assert m["upstream"]["frames"]


def test_checkpoint_resume_skips_clean_stages(spark, sf_dir, tmp_path):
    root = str(tmp_path / "cp")
    first = run_checkpointed_extraction(spark, sf_dir, root)
    first_count = first["triples"].count()
    assert not first["_pipeline"].reused("spans")
    # second run: every stage resumes from checkpoint
    second = run_checkpointed_extraction(spark, sf_dir, root)
    cp = second["_pipeline"]
    assert cp.reused("spans") and cp.reused("frames") and cp.reused("triples")
    # wipe one downstream stage -> only it recomputes, upstream still reused
    shutil.rmtree(f"{root}/triples")
    third = run_checkpointed_extraction(spark, sf_dir, root)
    cp3 = third["_pipeline"]
    assert cp3.reused("spans") and cp3.reused("frames")
    assert not cp3.reused("triples")
    assert third["triples"].count() == first_count


def test_checkpoint_invalidates_on_param_change(spark, sf_dir, tmp_path):
    root = str(tmp_path / "cp")
    cp = CheckpointedPipeline(spark, root)
    df1 = cp.stage("s", lambda: spark.range(5).toDF("x"), params="v1")
    assert not cp.reused("s")
    cp2 = CheckpointedPipeline(spark, root)
    cp2.stage("s", lambda: spark.range(5).toDF("x"), params="v2")
    assert not cp2.reused("s")  # changed params -> fingerprint mismatch


def test_checkpoint_crash_mid_rebuild_never_resurrects_stale_manifest(
    spark, tmp_path
):
    """The stale manifest must be invalidated BEFORE the rebuild touches
    the data: a crash between the data overwrite and the new manifest's
    publish would otherwise leave the OLD manifest vouching for data it
    did not describe, and a later run with the old params would silently
    reuse wrong or half-written parquet."""
    root = str(tmp_path / "cp")
    cp = CheckpointedPipeline(spark, root)
    cp.stage("s", lambda: spark.range(5).toDF("x"), params="v1")

    def boom():
        raise RuntimeError("simulated crash during rebuild")

    cp2 = CheckpointedPipeline(spark, root)
    with pytest.raises(RuntimeError, match="simulated crash"):
        cp2.stage("s", boom, params="v2")
    # back on v1: the old manifest is gone, so the stage must recompute
    cp3 = CheckpointedPipeline(spark, root)
    out = cp3.stage("s", lambda: spark.range(5).toDF("x"), params="v1")
    assert not cp3.reused("s")
    assert out.count() == 5


def test_checkpoint_invalidates_on_input_regeneration(spark, sf_dir, tmp_path):
    """Fingerprinting only the input PATH string would reuse a stale
    checkpoint after the corpus is regenerated in place under the same
    directory — input_signature folds the file listing (name, size,
    mtime) into the first stage's fingerprint."""
    import os

    src = str(tmp_path / "corpus")
    os.makedirs(src)
    doc_table = f"{src}/documents.parquet"
    shutil.copy(f"{sf_dir}/documents.parquet", doc_table)
    root = str(tmp_path / "cp")
    first = run_checkpointed_extraction(spark, src, root)
    n = first["triples"].count()
    second = run_checkpointed_extraction(spark, src, root)
    assert second["_pipeline"].reused("spans")
    # "regenerate" the corpus in place: same path, new file mtime
    os.utime(doc_table, ns=(1, 1))
    third = run_checkpointed_extraction(spark, src, root)
    assert not third["_pipeline"].reused("spans")
    assert third["triples"].count() == n


def test_checkpoint_recomputes_from_a_swapped_step(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A checkpoint's fingerprint covers how its stage is computed, not
    only the input and parameters: swapping one step of the stage chain
    recomputes that stage and every stage downstream of it — a root
    written by an older chain (e.g. whitespace tokens) is never reused."""
    import dere_spark.webtext as webtext
    from dere_spark.operators.tokenize import tokenize

    chain = webtext.STAGES

    def run(**swapped):
        monkeypatch.setattr(
            webtext, "STAGES", tuple((n, swapped.get(n, st)) for n, st in chain)
        )
        cp = run_checkpointed_extraction(spark, sf_dir, root)["_pipeline"]
        return [cp.reused(n) for n in ("spans", "frames", "triples")]

    def frames_again(pairs):  # same output, different definition
        return webtext._frames(pairs)

    root = str(tmp_path / "cp")
    assert run(tokens=tokenize) == [False, False, False]
    assert run(tokens=tokenize) == [True, True, True]
    assert run(tokens=tokenize, frames=frames_again) == [True, False, False]
    # back to the real chain: the whitespace-token root is stale throughout
    assert run() == [False, False, False]
    out = run_checkpointed_extraction(spark, sf_dir, root)
    assert out["_pipeline"].reused("spans")
    direct = extract_triples(spark, sf_dir)
    assert sorted(out["triples"].collect()) == sorted(direct.collect())


def test_salted_join_equals_plain_join(spark, sf_dir):
    docs = load_documents(spark, sf_dir).limit(200)
    dim = spark.createDataFrame(
        [("en", "english"), ("de", "german")], "lang string, lang_name string"
    )
    plain = docs.join(dim, "lang", "left").groupBy("lang_name").count()
    salted = (
        salted_dim_join(docs, dim, "lang", salt_from=["doc_id"], buckets=8)
        .groupBy("lang_name")
        .count()
    )
    key = lambda t: (t[0] is None, t)  # noqa: E731 — None-safe sort
    assert sorted(map(tuple, plain.collect()), key=key) == sorted(
        map(tuple, salted.collect()), key=key
    )


def test_salted_count_equals_plain_count(spark, sf_dir):
    docs = load_documents(spark, sf_dir)
    plain = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {r["lang"]: r["n"] for r in salted_count(docs, "lang", ["doc_id"], 8).collect()}
    assert plain == salted


def test_deterministic_split(spark, sf_dir):
    docs = load_documents(spark, sf_dir)
    train, dev = deterministic_split(docs, 0.8)
    n, tn, dn = docs.count(), train.count(), dev.count()
    assert tn + dn == n
    assert 0.7 < tn / n < 0.9  # ~uniform
    # reproducible and disjoint
    train2, _ = deterministic_split(docs, 0.8)
    assert train2.count() == tn
    assert train.join(dev, "doc_id", "inner").count() == 0


def test_grid_search_argmax_and_early_stop():
    calls = []

    def ev(params):
        calls.append(params)
        return 1.0 - (params["c"] - 3) ** 2 / 10

    r = grid_search({"c": [1, 2, 3, 4, 5]}, ev, early_stop_at=1.0)
    assert r.best_params == {"c": 3} and r.best_score == 1.0
    assert len(calls) == 3  # stopped at the perfect score


def test_streaming_matches_batch(spark, sf_dir, tmp_path):
    from dere_spark.streaming.pipeline import stream_extract_triples

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    load_documents(spark, sf_dir).withColumn(
        "n_chars", F.length("text").cast("long")
    ).write.parquet(src)
    q = stream_extract_triples(spark, src, out, cp, available_now=True)
    q.awaitTermination(300)
    streamed = spark.read.parquet(out)
    batch = extract_triples(spark, sf_dir)
    assert streamed.count() == batch.count()
    # exactly-once: re-triggering with the same checkpoint appends nothing
    q2 = stream_extract_triples(spark, src, out, cp, available_now=True)
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == batch.count()
    # crash-replay simulation: foreachBatch is at-least-once, so wipe the
    # streaming checkpoint and replay EVERY batch with the same batch_ids
    # — the per-batch dynamic partition overwrite must replace each
    # batch's partition, not append a duplicate copy of the corpus
    shutil.rmtree(cp)
    q3 = stream_extract_triples(spark, src, out, cp, available_now=True)
    q3.awaitTermination(300)
    assert spark.read.parquet(out).count() == batch.count()


def test_streaming_accepts_int64_doc_ids(spark, sf_dir, tmp_path):
    """A documents table with int64 ``doc_id`` (the sf corpora) streams
    as-is: the micro-batches go through the same documents normalization
    as ``load_documents``, so the streamed triples equal the batch ones."""
    import os

    from dere_spark.streaming.pipeline import stream_extract_triples

    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/documents.parquet", f"{src}/documents.parquet")
    out = str(tmp_path / "out")
    q = stream_extract_triples(spark, src, out, str(tmp_path / "cp"), available_now=True)
    q.awaitTermination(300)
    assert q.exception() is None
    streamed = spark.read.parquet(out).drop("batch_id")
    batch = extract_triples(spark, sf_dir)
    assert streamed.count() > 0
    assert sorted(streamed.collect()) == sorted(batch.select(*streamed.columns).collect())


def test_merge_sessions_gap_semantics():
    """The stateful sessionizer's pure merge kernel: late events within
    the gap extend the open session DOWNWARD; late events beyond the gap
    form their own (immediately closed) session — a plain `t - end <=
    gap` test would swallow arbitrarily-early events and never lower the
    recorded start."""
    from dere_spark.streaming.pipeline import _merge_sessions

    gap = 1000
    # in-order: split at > gap
    assert _merge_sessions(
        [[0, 0, 1], [500, 500, 1], [3000, 3000, 1]], gap
    ) == [[0, 500, 2], [3000, 3000, 1]]
    # late event within the gap BEFORE the open session lowers its start
    assert _merge_sessions([[5000, 6000, 3], [4500, 4500, 1]], gap) == [
        [4500, 6000, 4]
    ]
    # late event beyond the gap: its own closed session, boundaries intact
    assert _merge_sessions([[5000, 6000, 3], [1000, 1000, 1]], gap) == [
        [1000, 1000, 1],
        [5000, 6000, 3],
    ]
    assert _merge_sessions([], gap) == []


def test_streaming_windowed_counts(spark, sf_dir, tmp_path):
    from dere_spark.streaming.pipeline import stream_windowed_event_counts
    from dere_spark.sources.documents import load_table

    src = str(tmp_path / "ev")
    load_table(spark, sf_dir, "events").write.parquet(src)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).parquet(src)
    windowed = stream_windowed_event_counts(stream)
    q = (
        windowed.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select sum(n_events) n from wincounts").collect()[0]["n"]
    assert got == load_table(spark, sf_dir, "events").count()


def test_streaming_stateful_sessions(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionization: closed sessions from the
    stream must agree with the batch sessionizer for sessions that end
    well before the max event time (open/late-boundary sessions stay in
    state at stream end)."""
    from dere_spark.sources.documents import load_table
    from dere_spark.streaming.pipeline import stream_stateful_sessions

    src = str(tmp_path / "ev2")
    load_table(spark, sf_dir, "events").write.parquet(src)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).parquet(src)
    q = (
        stream_stateful_sessions(stream)
        .writeStream.format("memory")
        .queryName("statesess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        "select user_id, session_start, n_events from statesess"
    ).collect()
    assert len(got) > 0
    # cross-check a sample of closed sessions against the batch sessionizer
    from dere_spark.queries import QUERIES

    batch_rows = QUERIES["window_sessionize"](spark, sf_dir).collect()
    batch_total = sum(r["n_events"] for r in batch_rows)
    stream_total = sum(r["n_events"] for r in got)
    # closed sessions cover most events; the remainder is open state at
    # stream end (per-user final sessions with no event past their gap)
    assert 0 < stream_total <= batch_total
    assert stream_total >= batch_total * 0.8
