"""Tests of the benchmark's own code: corpus determinism and schema, the
plan-tree reader, and the names in BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, ROOT)

import corpus  # noqa: E402
import sparkstats  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _config():
    with open(os.path.join(BENCH_DIR, "workloads.json")) as f:
        return json.load(f)


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["extract_dense", "extract_web"])
def test_same_seed_same_bytes(tmp_path, workload):
    profile = _config()["workloads"][workload]
    small = dict(profile, docs=300)
    corpus.write_corpus(7, small, str(tmp_path / "a"))
    corpus.write_corpus(7, small, str(tmp_path / "b"))
    corpus.write_corpus(8, small, str(tmp_path / "c"))
    read = lambda d: (tmp_path / d / "documents.parquet").read_bytes()
    assert read("a") == read("b")
    assert read("a") != read("c")


def test_profile_knobs_show_in_the_text():
    cfg = _config()
    dense, _ = corpus.generate(3, dict(cfg["workloads"]["extract_dense"], docs=400))
    web, _ = corpus.generate(3, dict(cfg["workloads"]["extract_web"], docs=400))
    gaz = set(corpus.GAZETTEER_TERMS)

    def shares(table):
        words = " ".join(table.column("text").to_pylist()).split(" ")
        g = sum(w in gaz for w in words) / len(words)
        p = sum(not w.isalnum() for w in words) / len(words)
        return g, p

    g, p = shares(dense)
    assert g > 0.85 and p == 0
    g, p = shares(web)
    assert g < 0.15 and 0.08 < p < 0.25
    lengths = sorted(web.column("n_chars").to_pylist())
    assert lengths[-1] > 8 * lengths[len(lengths) // 2]  # heavy tail


def test_injected_pairs_are_near_duplicates():
    profile = dict(_config()["workloads"]["extract_dense"], docs=600, dup_share=0.1)
    table, pairs = corpus.generate(5, profile)
    text = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
    assert pairs and all(a < b for a, b in pairs)
    for a, b in pairs:
        wa, wb = text[a].split(" "), text[b].split(" ")
        assert len(wa) == len(wb)
        assert sum(x != y for x, y in zip(wa, wb)) <= max(2, len(wa) // 5)


def test_schema_accepted_by_load_documents_and_stream_ddl(tmp_path):
    pytest.importorskip("pyspark")
    from dere_spark.session import get_spark
    from dere_spark.sources.documents import load_documents
    from dere_spark.streaming.pipeline import DOCUMENTS_DDL

    table, _ = corpus.write_corpus(
        1, dict(_config()["workloads"]["extract_web"], docs=50), str(tmp_path / "c")
    )
    spark = get_spark("perfbench-test", cpus=2)
    try:
        docs = load_documents(spark, str(tmp_path / "c"))
        assert docs.count() == 50
        assert dict(docs.dtypes)["doc_id"] == "string"
        query = (
            spark.readStream.schema(DOCUMENTS_DDL)
            .parquet(str(tmp_path / "c"))
            .writeStream.format("memory")
            .queryName("perfbench_ddl")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        assert query.exception() is None
        assert spark.table("perfbench_ddl").count() == 50
    finally:
        spark.stop()


def test_drops_partition_the_corpus():
    table, _ = corpus.generate(2, dict(_config()["workloads"]["extract_dense"], docs=101))
    parts = corpus.split_drops(table, 3)
    assert sum(p.num_rows for p in parts) == 101
    assert [r for p in parts for r in p.column("doc_id").to_pylist()] == table.column(
        "doc_id"
    ).to_pylist()


PLAN = """== Physical Plan ==
AdaptiveSparkPlan (20)
+- == Final Plan ==
   ResultQueryStage (12)
   +- * SortMergeJoin Inner (11)
      :- * Sort (5)
      :  +- ShuffleQueryStage (4)
      :     +- Exchange (3)
      :        +- * Project (2)
      :           +- Scan parquet  (1)
      +- * Sort (10)
         +- * BroadcastHashJoin Inner BuildRight (9)
            :- ShuffleQueryStage (7)
            :  +- ReusedExchange (6)
            +- BroadcastQueryStage (14)
               +- BroadcastExchange (13)
                  +- LocalTableScan (8)
+- == Initial Plan ==
   SortMergeJoin Inner (19)
   :- Exchange (16)
   :  +- Scan parquet  (15)
   +- Exchange (18)
      +- Scan parquet  (17)

(1) Scan parquet
(6) ReusedExchange [Reuses operator id: 3]
"""


def test_plan_tree_counts_final_plan_only():
    tree = sparkstats.PlanTree(PLAN)
    assert tree.exchanges() == 2  # Exchange (3) and BroadcastExchange (13)
    assert tree.source_reads() == 2  # the scan, and its exchange reused
    assert tree.nodes[11]["children"] == [5, 10]


def test_benchmark_names_and_contract():
    bench = _bench()
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    assert all(UNIT.match(m["unit"]) for m in bench["end_to_end"] + bench["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in bench["end_to_end"] if m["name"] == "setup_s"
    ).items()
    cfg = _config()
    for w in bench["workloads"]:
        assert w["name"] in cfg["workloads"] and "\n" not in w["why"] and len(w["why"]) <= 200


def test_runs_check_their_triples_against_the_record():
    import run as bench

    expected = bench._load_json("expected.json")
    profiles = _config()["workloads"]
    for w in _bench()["workloads"]:
        record = expected[w["name"]]
        assert all(str(seed) in record for seed in range(1, 65))
        run = bench.Run(w["name"], 1, profiles[w["name"]])
        assert run.check_expected(record["1"]) == "match" and run.failed == 0
        assert run.check_expected([0, 0, 0]) == "mismatch" and run.failed == 1
        assert run.check_expected(None) == "mismatch" and run.failed == 2
        stranger = bench.Run(w["name"], 10**6, profiles[w["name"]])
        assert stranger.check_expected(record["1"]) == "unrecorded" and stranger.failed == 0
