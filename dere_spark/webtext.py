"""The webtext KG-construction task: schema, gazetteers, and the staged
pipeline over the driver's Common-Crawl-style `documents` table.

This is the engine's flagship end-to-end path (SURVEY.md §7.2): a
deterministic, fully relational instantiation of the DeRE predict lifecycle
(/root/reference/dere/__main__.py:196-219 →
dere/models/_baseline/{span,slot}_classifier.py predict paths):

  documents --tokenize--> tokens --gazetteer ⋈--> spans
            --whitelist self-⋈--> pairs --score+rank--> frames
            --entity link--> triples

Every stage is pure DataFrame ops (broadcast joins, window functions) —
zero Python UDFs — so the whole plan runs inside whole-stage codegen and
scales linearly with executors; documents are the unit of parallelism end
to end.

The chain is defined ONCE, as ``STAGES`` — an ordered tuple of
``(name, step)`` where each step maps the previous stage's DataFrame to
its own — and ``run_stages`` walks it. Batch (`build_stages`), cached
(`cached_stages`), checkpointed (`plans.checkpoint`) and streaming
(`streaming.pipeline`, one walk per micro-batch) runs all go through that
walk, so every execution mode emits the same triples for the same input.

Tokenization is Treebank segmentation (`tokenize_treebank_sql`, the
reference's front door: span_classifier.py:361) compiled to JVM
regexp_replace expressions on top of the windowed whitespace tokenizer.
It is the only front door because it keeps every token byte in the JVM:
an Arrow-kernel tokenizer that skips the doc_id shuffle was measured
slower in multi-executor mode, since Python<->JVM IPC of the full token
stream costs more than the document shuffle it saves.
"""

from __future__ import annotations

import os
from typing import Callable, Dict, Tuple

from pyspark.sql import DataFrame, SparkSession

from dere_spark.operators.frames import assemble_frames, best_fillers, score_pairs
from dere_spark.operators.pairs import candidate_pairs, whitelist_df
from dere_spark.operators.spans import detect_spans, gazetteer_df
from dere_spark.operators.treebank import tokenize_treebank_sql
from dere_spark.operators.triples import entity_dictionary, frames_to_triples
from dere_spark.plans.compiler import PlanSpec, compile_plan
from dere_spark.sources.documents import load_documents
from dere_spark.taskspec import TaskSpecification, load_task_spec

SPEC_PATH = os.path.join(os.path.dirname(__file__), "specs", "webtext.xml")

#: Gazetteers for the webtext schema — the deterministic span "model"
#: (reference analog: model-specs/training_gazetteer_bionlp consumed at
#: dere/models/_baseline/span_classifier.py:294-322).
GAZETTEERS: Dict[str, tuple] = {
    "Operator": ("join", "filter", "sort", "scan", "merge", "agg", "hash", "group", "window"),
    "Object": (
        "table", "row", "column", "line", "part", "key", "value", "data",
        "query", "vector", "stream", "batch", "customer", "spark", "order",
    ),
    "Qualifier": ("fast", "slow", "small", "big", "dup"),
}

#: Alias head of the entity dictionary (broadcast at the link join):
#: canonical ids for the highest-frequency surfaces.
ENTITY_ALIASES: Dict[str, str] = {
    "spark": "ent:apache_spark",
    "customer": "ent:customer",
}

MAX_TOKEN_DISTANCE = 3

Step = Callable[[DataFrame], DataFrame]


def load_webtext_spec() -> TaskSpecification:
    return load_task_spec(SPEC_PATH)


def webtext_plan() -> PlanSpec:
    return compile_plan(load_webtext_spec())


def _spans(tokens: DataFrame) -> DataFrame:
    return detect_spans(tokens, gazetteer_df(tokens.sparkSession, GAZETTEERS))


def _pairs(spans: DataFrame) -> DataFrame:
    wl = whitelist_df(spans.sparkSession, webtext_plan())
    return candidate_pairs(spans, wl, MAX_TOKEN_DISTANCE)


def _frames(pairs: DataFrame) -> DataFrame:
    return assemble_frames(best_fillers(score_pairs(pairs)), webtext_plan())


def _triples(frames: DataFrame) -> DataFrame:
    dictionary = entity_dictionary(frames.sparkSession, ENTITY_ALIASES)
    return frames_to_triples(frames, dictionary)


#: The flagship stage chain: (name, step), each step a function of the
#: previous stage's DataFrame (the first one's input is ``documents``).
STAGES: Tuple[Tuple[str, Step], ...] = (
    ("tokens", tokenize_treebank_sql),
    ("spans", _spans),
    ("pairs", _pairs),
    ("frames", _frames),
    ("triples", _triples),
)


def run_stages(
    documents: DataFrame,
    hook: Callable[[str, Step, DataFrame], DataFrame] = lambda name, step, df: step(df),
) -> Dict[str, DataFrame]:
    """Walk ``STAGES`` from a canonical ``documents`` DataFrame; returns
    stage name -> DataFrame, ``documents`` included. ``hook(name, step,
    upstream)`` returns what the walk passes on as stage ``name`` — the
    default applies the step; execution modes pass one that also persists
    or checkpoints it."""
    stages = {"documents": documents}
    df = documents
    for name, step in STAGES:
        df = stages[name] = hook(name, step, df)
    return stages


def build_stages(spark: SparkSession, sf_dir: str) -> Dict[str, DataFrame]:
    """Construct every stage of the pipeline lazily; nothing executes until
    an action runs. Returned dict keys are stage names -> DataFrames."""
    return run_stages(load_documents(spark, sf_dir))


#: Per-application memo of cached pipeline stages. Keyed by
#: (applicationId, sf_dir) so a new SparkSession never sees another
#: session's DataFrames.
_STAGE_CACHE: Dict[tuple, Dict[str, DataFrame]] = {}


def _persist_shared(name: str, step: Step, upstream: DataFrame) -> DataFrame:
    df = step(upstream)
    return df.persist() if name in ("spans", "triples") else df


def cached_stages(spark: SparkSession, sf_dir: str) -> Dict[str, DataFrame]:
    """build_stages with the shared DAG prefix PERSISTED.

    A dozen gate/bench queries share the documents -> spans -> triples
    prefix; rebuilding it per query re-pays the full scan + self-join
    every time (~2 s fixed plan cost each at sf0.1, BENCH r1). Production
    pattern at web scale: materialize the narrow span/triple stages once
    per batch (they are a small fraction of corpus bytes — spans carry no
    document text beyond the matched token) and let every downstream
    query start from the cache. Results are identical to build_stages;
    plan-shape tests intentionally use the uncached builder.
    """
    # evict entries from other (stopped or replaced) applications: their
    # DataFrame graphs are dead weight a long-lived driver process would
    # otherwise accumulate forever across session restarts
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _STAGE_CACHE if k[0] != app_id]:
        del _STAGE_CACHE[k]
    key = (app_id, sf_dir)
    if key not in _STAGE_CACHE:
        _STAGE_CACHE[key] = run_stages(load_documents(spark, sf_dir), _persist_shared)
    return _STAGE_CACHE[key]


def invalidate_cached_stages(spark: SparkSession, sf_dir: str) -> None:
    """Unpersist and drop the live session's cached stages for ``sf_dir``
    — required after rewriting the corpus under the same path, which the
    memo key cannot see."""
    key = (spark.sparkContext.applicationId, sf_dir)
    stages = _STAGE_CACHE.pop(key, None)
    if stages:
        stages["spans"].unpersist()
        stages["triples"].unpersist()


def extract_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query: documents -> (subj, pred, obj) triples."""
    return build_stages(spark, sf_dir)["triples"]
