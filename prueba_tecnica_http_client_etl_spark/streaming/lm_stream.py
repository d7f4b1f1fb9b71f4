"""Streaming bigram-LM quality gate — the ingest-time shape of the
CCNet-style filter (operators/corpus.py::lm_bigram_score): the model is
trained ONCE per corpus snapshot (lm_trained_model over the train slice),
and each arriving micro-batch of documents is scored against it
(lm_score_docs) — per-batch cost is |batch| bigrams joined to the fixed
model, independent of how much has already streamed.

Scores reference ONLY the frozen model — never other in-flight
documents — so they are per-document pure functions: the union of
per-batch scores is byte-identical to scoring the whole held set at
once, regardless of batching. That decomposability is what lets the
registry certify this stream against lm_bigram_score's batch oracle SQL
(the strongest check a stream can carry) — the same argument as
dedup_index_probe_stream's probe-only verdicts.

Idempotence: foreachBatch is at-least-once, so the score sink
overwrites its batch_id-derived partition directory — a replayed batch
converges to identical files (the run_with_quarantine contract).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textprep as tp
from ..operators.corpus import lm_score_docs
from .runner import run_transform_stream

DOC_SCHEMA = "doc_id long, text string"


def _prepped_batch(docs: DataFrame) -> DataFrame:
    """(doc_id, toks) from a raw (doc_id, text) micro-batch — the same
    normalize/tokenize expressions as docs_normalized, applied to
    streaming rows."""
    return (
        docs.withColumn("norm", F.expr(tp.SPARK_NORM))
        .withColumn("toks", F.expr(tp.SPARK_TOKS))
        .select("doc_id", "toks")
    )


# Scores every micro-batch against the frozen (c12, c1, vocab) model
# frames into (doc_id, n_bigrams, n_oov_bigrams, avg_bits). The model
# frames should be persisted by the caller (each micro-batch joins them).
run_lm_score = partial(
    run_transform_stream,
    schema=DOC_SCHEMA,
    layer="scores",
    transform=lambda batch, c12, c1, vocab: lm_score_docs(_prepped_batch(batch), c12, c1, vocab),
)
