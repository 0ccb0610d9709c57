"""CorpusIngestPipeline: the streaming corpus builder — gate → screen
→ exactly-once append → fp commit. Covers cross-batch dedup, the
crash window between fp commit and ledger commit (the one that would
silently lose a whole batch without the exclude_batch screen), ledger
skip, and the real readStream path."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
    token_count_col,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
    batch_manifest_path,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming.corpus import (
    CorpusIngestPipeline,
)

SCHEMA = "doc_id long, source string, text string"


def _pipe(tmp_path, spark, table, gate=None):
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    return CorpusIngestPipeline(
        source=None,
        corpus_dir=str(tmp_path / "corpus"),
        store_table=table,
        gate=gate,
        store_buckets=4,
    )


def test_corpus_cross_batch_dedup_and_gate(spark, tmp_path):
    gate = lambda df: df.where(token_count_col() >= 2)  # noqa: E731
    pipe = _pipe(tmp_path, spark, "corpus_store_a", gate=gate)
    try:
        b0 = spark.createDataFrame(
            [(1, "web", "alpha beta"), (2, "web", "gamma delta"),
             (3, "books", "x")],          # gated out (1 token)
            SCHEMA,
        )
        pipe.process_batch(b0, 0)
        docs = spark.read.parquet(pipe.docs_path())
        assert {r.doc_id for r in docs.collect()} == {1, 2}
        # Hive layout by source
        assert {str(r.source) for r in docs.select("source").collect()} == {"web"}

        b1 = spark.createDataFrame(
            [(10, "web", "alpha beta"),     # dup of batch-0 doc 1
             (11, "books", "epsilon zeta"),  # new
             (12, "books", "epsilon zeta")],  # within-batch dup
            SCHEMA,
        )
        pipe.process_batch(b1, 1)
        got = {r.doc_id for r in spark.read.parquet(pipe.docs_path()).collect()}
        assert got == {1, 2, 11}
        # fp store has exactly the 3 admitted fingerprints
        assert spark.table("corpus_store_a").select("fp").distinct().count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS corpus_store_a")


def test_corpus_crash_after_fp_commit_replays_without_losing_docs(
    spark, tmp_path, monkeypatch
):
    """THE crash window: fps committed, ledger not — replay must not
    screen the batch's own docs out (that was a whole-batch silent
    loss before exclude_batch existed)."""
    pipe = _pipe(tmp_path, spark, "corpus_store_b")
    try:
        pipe.process_batch(
            spark.createDataFrame([(1, "web", "alpha beta")], SCHEMA), 0
        )
        b1 = spark.createDataFrame(
            [(2, "web", "gamma delta"), (3, "web", "alpha beta")], SCHEMA
        )
        real_commit = pipe.ledger.commit
        calls = {"n": 0}

        def dying(batch_id):
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("crash before ledger commit")
            real_commit(batch_id)

        monkeypatch.setattr(pipe.ledger, "commit", dying)
        with pytest.raises(RuntimeError, match="crash"):
            pipe.process_batch(b1, 1)
        # fps of batch 1 ARE in the store; batch 1 is NOT committed, so
        # its manifest is still there for the replay's undo
        assert not pipe.ledger.is_committed(1)
        manifest = batch_manifest_path(pipe.docs_path(), 1)
        assert os.path.exists(manifest)
        # replay converges: doc 2 present exactly once, dup doc 3 still out
        pipe.process_batch(b1, 1)
        assert not os.path.exists(manifest)  # retired after the commit
        got = sorted(
            r.doc_id for r in spark.read.parquet(pipe.docs_path()).collect()
        )
        assert got == [1, 2]
        # ledger-skip on the third delivery
        pipe.process_batch(b1, 1)
        assert spark.read.parquet(pipe.docs_path()).count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS corpus_store_b")


def test_corpus_through_real_stream(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    recs = [
        {"doc_id": 1, "source": "web", "text": "alpha beta"},
        {"doc_id": 2, "source": "web", "text": "alpha beta"},
        {"doc_id": 3, "source": "books", "text": "gamma delta"},
    ]
    (inp / "a.json").write_text("\n".join(json.dumps(r) for r in recs))
    src = spark.readStream.schema(SCHEMA).json(str(inp))
    spark.sql("DROP TABLE IF EXISTS corpus_store_c")
    pipe = CorpusIngestPipeline(
        src,
        str(tmp_path / "corpus"),
        "corpus_store_c",
        store_buckets=4,
    )
    try:
        pipe.run_available_now(str(tmp_path / "ck"))
        got = {r.doc_id for r in spark.read.parquet(pipe.docs_path()).collect()}
        assert got == {1, 3}
    finally:
        spark.sql("DROP TABLE IF EXISTS corpus_store_c")


def test_corpus_gate_composes_with_quality_classifier(spark, tmp_path):
    """The model-based quality filter drops the junk doc at the gate —
    the classifier IS a gate callable, no special wiring."""
    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        linear_quality_logit,
    )

    gate = lambda df: df.where(linear_quality_logit() > 0)  # noqa: E731
    pipe = _pipe(tmp_path, spark, "corpus_store_clf", gate=gate)
    try:
        prose = (
            "the cat and the dog ran to the house and it was for the best " * 8
        )
        noise = "!!! ??? ;;; ### $$$ %%% @@@ &&& *** ((( ))) ^^^"
        pipe.process_batch(
            spark.createDataFrame(
                [(1, "web", prose), (2, "web", noise)], SCHEMA
            ),
            0,
        )
        docs = spark.read.parquet(pipe.docs_path())
        assert {r.doc_id for r in docs.collect()} == {1}
    finally:
        spark.sql("DROP TABLE IF EXISTS corpus_store_clf")
