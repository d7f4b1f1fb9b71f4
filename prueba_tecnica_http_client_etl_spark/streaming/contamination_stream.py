"""Streaming Bloom-prescreened decontamination — the ingest-time shape
of operators/curation.py::contamination_bloom (and of what Dolma-style
pipelines actually deploy): the probe set's Bloom bitmap and the exact
probe-gram relation are frozen ONCE per benchmark-suite release
(curation.bloom_trained_state — geometry auto-sized to the probe
volume, memoized as a trained artifact), and each arriving micro-batch
of corpus documents tests its grams against the broadcast bitmap
map-side; only grams passing the prescreen reach the exact verify
join. Per-batch cost is |batch| gram probes plus (true hits + FP)
verify rows — independent of how much has already streamed.

Per-doc contamination references ONLY the frozen probe set — never
other in-flight documents — so it is a per-document pure function: the
union of per-batch outputs is byte-identical to checking the whole
corpus slice at once, regardless of batching. That decomposability is
what lets the registry certify this stream against
contamination_check's batch oracle SQL (the strongest check a stream
can carry) — the same argument as lm_score_stream and
dsir_score_stream, with the prescreen's losslessness (no false
negatives; FPs removed by the verify join) on top.

Idempotence: foreachBatch is at-least-once, so the sink overwrites its
batch_id-derived partition directory — a replayed batch converges to
identical files (the run_with_quarantine contract).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textprep as tp
from ..operators.curation import _SPARK_GRAMS, bloom_score_docs
from .lm_stream import DOC_SCHEMA
from .runner import run_transform_stream


def _grammed_batch(docs: DataFrame) -> DataFrame:
    """(doc_id, grams) from a raw (doc_id, text) micro-batch — the same
    normalize/tokenize/gram expressions as the batch operator's
    docs_normalized + _SPARK_GRAMS chain (norm is kept in scope: the
    gram CASE falls back to array(norm) for sub-4-token docs)."""
    return (
        docs.withColumn("norm", F.expr(tp.SPARK_NORM))
        .withColumn("toks", F.expr(tp.SPARK_TOKS))
        .withColumn("grams", F.expr(_SPARK_GRAMS))
        .select("doc_id", "grams")
    )


# Scores every micro-batch through curation.bloom_score_docs against the
# frozen (bitmap, probe grams, geometry) state into (doc_id, n_grams,
# n_overlap, contamination). bf_row is a checkpointed trained artifact
# and probes a pooled frame — every micro-batch joins pinned blocks.
# ordered=False: the parquet write discards ordering, so the batch
# operator's final sort is per-micro-batch tax here.
run_contamination = partial(
    run_transform_stream,
    schema=DOC_SCHEMA,
    layer="scores",
    transform=lambda batch, bf_row, probes, m_log2: bloom_score_docs(
        _grammed_batch(batch), bf_row, probes, m_log2, ordered=False
    ),
)
