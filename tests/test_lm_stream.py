"""Streaming bigram-LM gate: multi-batch scores must be byte-equal to
the one-shot batch filter (lm_bigram_score), and replay must be
idempotent — the decomposability contract the registry oracle relies on.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain
from prueba_tecnica_http_client_etl_spark.operators.corpus import (
    LM_HELD_STRIDE,
    lm_bigram_score,
    lm_trained_model,
)
from prueba_tecnica_http_client_etl_spark.streaming.lm_stream import run_lm_score
from tests.conftest import SF_SMOKE


def _stage_held(spark, tmp_path, n_files=4):
    from prueba_tecnica_http_client_etl_spark.schemas import load_table

    path = str(tmp_path / "held")
    (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") % LM_HELD_STRIDE == 0)
        .select("doc_id", "text")
        .repartition(n_files)
        .write.mode("overwrite")
        .json(path)
    )
    return path


def _model(spark):
    return lm_trained_model(spark, SF_SMOKE)


def test_multi_batch_scores_equal_batch_filter(spark, tmp_path):
    """one_file_per_batch forces >1 micro-batch; the score union must
    still be byte-identical to lm_bigram_score's one-shot output — the
    scores are per-doc functions of the FROZEN model only."""
    c12, c1, vocab = _model(spark)
    inp = _stage_held(spark, tmp_path)
    out = run_lm_score(
        spark,
        inp,
        str(tmp_path / "out"),
        c12=c12,
        c1=c1,
        vocab=vocab,
        checkpoint=str(tmp_path / "ckpt"),
        one_file_per_batch=True,
    )
    assert out.select("batch_id").distinct().count() > 1, "stream must run multi-batch"
    got = sorted(tuple(r) for r in out.select(
        "doc_id", "n_bigrams", "n_oov_bigrams", "avg_bits"
    ).collect())
    want = sorted(tuple(r) for r in lm_bigram_score(spark, SF_SMOKE).collect())
    assert got == want
    drain()


def test_replay_is_idempotent(spark, tmp_path):
    """A second availableNow run over the same input and a FRESH
    checkpoint must converge to the identical score files (foreachBatch
    overwrites its batch_id partition)."""
    c12, c1, vocab = _model(spark)
    inp = _stage_held(spark, tmp_path)
    kw = dict(c12=c12, c1=c1, vocab=vocab)
    out1 = run_lm_score(
        spark, inp, str(tmp_path / "o1"), checkpoint=str(tmp_path / "c1"), **kw
    )
    rows1 = sorted(tuple(r) for r in out1.drop("batch_id").collect())
    out2 = run_lm_score(
        spark, inp, str(tmp_path / "o1"), checkpoint=str(tmp_path / "c2"), **kw
    )
    rows2 = sorted(tuple(r) for r in out2.drop("batch_id").collect())
    assert rows1 == rows2
    drain()
