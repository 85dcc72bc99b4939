"""The production input shape from BASELINE.json's input_hint —
(url:string, warc_ts:timestamp, html:binary, text:string, lang:string) —
must run the full KG pipeline unchanged: url becomes doc_id, the binary
html payload must never reach a scan that doesn't ask for it, and the
extracted text is byte-identical end to end."""

from __future__ import annotations

import datetime
import hashlib
import re

import pyspark.sql.functions as F

from dere_spark.operators.tokenize import fidelity_violations, tokenize
from dere_spark.sources.documents import load_documents
from dere_spark.webtext import build_stages


def _write_web_table(spark, tmp_path):
    rows = [
        (
            f"https://example.com/page{i}",
            datetime.datetime(2026, 1, 1 + i % 3),
            bytes([i % 251]) * 64,  # opaque binary payload
            f"spark join table {i} and customer sort fast",
            "en",
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path / "web")
    df.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


def test_web_shape_normalizes_and_extracts(spark, tmp_path):
    sf_dir = _write_web_table(spark, tmp_path)
    docs = load_documents(spark, sf_dir)
    assert docs.columns == ["doc_id", "text", "lang", "source"]
    assert docs.count() == 40
    # url is the identity
    assert docs.where(F.col("doc_id").startswith("https://")).count() == 40
    # the full pipeline runs and produces triples over url-keyed docs
    triples = build_stages(spark, sf_dir)["triples"]
    assert triples.count() > 0
    assert triples.where(F.col("doc_id").startswith("https://")).count() > 0


def test_html_binary_never_scanned(spark, tmp_path):
    sf_dir = _write_web_table(spark, tmp_path)
    plan = (
        build_stages(spark, sf_dir)["triples"]
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",")}
        assert "html" not in cols, f"binary payload reached a scan: {cols}"
        assert "warc_ts" not in cols


def test_web_shape_text_fidelity(spark, tmp_path):
    sf_dir = _write_web_table(spark, tmp_path)
    docs = load_documents(spark, sf_dir)
    assert fidelity_violations(docs, tokenize(docs)).count() == 0


def test_execution_modes_agree_on_punctuated_text(spark, tmp_path):
    """Batch, cached, checkpointed and streaming runs all walk the one
    stage chain, so on punctuated web text they emit identical triples,
    and the Treebank front door finds the comma-glued operator ("join,"
    never matches the gazetteer under whitespace splitting)."""
    from dere_spark.plans.checkpoint import run_checkpointed_extraction
    from dere_spark.streaming.pipeline import stream_extract_triples
    from dere_spark.webtext import cached_stages, invalidate_cached_stages

    rows = [
        (f"u{i}", f"spark join, table {i}. customer sort fast!", "en", "web")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, lang string, source string")
    out = str(tmp_path / "punct")
    df.write.mode("overwrite").parquet(f"{out}/documents.parquet")

    stream_out = str(tmp_path / "stream")
    query = stream_extract_triples(
        spark, f"{out}/documents.parquet", stream_out, str(tmp_path / "chk")
    )
    query.awaitTermination(300)
    assert query.exception() is None
    modes = {
        "batch": build_stages(spark, out)["triples"],
        "cached": cached_stages(spark, out)["triples"],
        "checkpointed": run_checkpointed_extraction(spark, out, str(tmp_path / "cp"))[
            "triples"
        ],
        "streaming": spark.read.parquet(stream_out),
    }
    cols = ["subj", "pred", "obj", "doc_id", "frame_id", "confidence"]
    try:
        digests = {
            mode: hashlib.md5(
                repr(sorted(map(tuple, t.select(*cols).collect()))).encode()
            ).hexdigest()
            for mode, t in modes.items()
        }
    finally:
        invalidate_cached_stages(spark, out)
    assert len(set(digests.values())) == 1, digests
    assert modes["batch"].where(F.col("pred").startswith("Operation")).count() > 0
