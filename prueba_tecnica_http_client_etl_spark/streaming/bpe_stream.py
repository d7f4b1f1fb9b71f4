"""Streaming BPE tokenizer application — the ingest-time shape of the
trained tokenizer (operators/corpus.py::bpe_tokenize): the merge table
is trained ONCE per corpus snapshot (the bpe_merge_table artifact) and
FROZEN; each arriving micro-batch of documents is normalized, wrapped
into the symbol encoding, and segmented by the BPE_MERGES literal
replaces in rank order — "tokenize arriving docs with the frozen merge
list" is exactly the ingest loop a training-data pipeline runs between
tokenizer retrains.

Segmentations reference ONLY the frozen merge list — never other
in-flight documents — so they are per-document pure functions: the
union of per-batch outputs is byte-identical to tokenizing the whole
corpus at once, regardless of batching. That decomposability is what
lets the registry certify this stream against bpe_tokenize's batch
oracle SQL (rows+schema+hash — the strongest check a stream can carry),
the same argument as lm_score_stream's frozen bigram model.

Per-batch cost is |batch| x BPE_MERGES string replaces — map-side
literal ops inside codegen, no joins, no shuffle, independent of how
much has already streamed; the frozen state is a BPE_MERGES-row pair
list closed over by the transform (bounded driver state, the
kmeans-centroid pattern).

Idempotence: foreachBatch is at-least-once, so the sink overwrites its
batch_id-derived partition directory — a replayed batch converges to
identical files (the run_with_quarantine contract).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textprep as tp
from ..operators.corpus import _bpe_apply_prepped, _bpe_symbols_select
from .runner import run_transform_stream

DOC_SCHEMA = "doc_id long, text string"


def bpe_tokenize_batch(batch: DataFrame, merges: list[tuple]) -> DataFrame:
    """(doc_id, n_words, n_symbols, symbols_preview) for one micro-batch
    of raw (doc_id, text) documents under the frozen merge list — the
    same normalize/tokenize expressions as docs_normalized and the same
    apply/select helpers as the batch tokenizer, so the per-doc output
    is byte-identical by construction."""
    prepped = (
        batch.withColumn("norm", F.expr(tp.SPARK_NORM))
        .withColumn("toks", F.expr(tp.SPARK_TOKS))
        .select("doc_id", "toks")
    )
    return _bpe_symbols_select(_bpe_apply_prepped(prepped, merges))


# Segments every micro-batch with the frozen merge list into per-doc
# symbol accounting (doc_id, n_words, n_symbols, symbols_preview).
run_bpe_tokenize = partial(
    run_transform_stream, schema=DOC_SCHEMA, layer="symbols", transform=bpe_tokenize_batch
)
