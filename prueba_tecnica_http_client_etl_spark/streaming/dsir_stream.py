"""Streaming DSIR importance gate — the ingest-time shape of the
hashed-n-gram data selector (operators/corpus.py::dsir_importance): the
B-row importance model is fit ONCE per target definition + corpus
snapshot (dsir_model), and each arriving micro-batch of documents is
scored against it (dsir_score_docs) — per-batch cost is |batch| feature
occurrences joined to a broadcastable fixed model, independent of how
much has already streamed. This is the deployment DSIR describes:
selection weights computed at ingest, resampling downstream.

Weights reference ONLY the frozen model — never other in-flight
documents — so they are per-document pure functions: the union of
per-batch scores is byte-identical to scoring the whole raw slice at
once, regardless of batching. That decomposability is what lets the
registry certify this stream against dsir_importance's batch oracle SQL
(the strongest check a stream can carry) — the same argument as
lm_score_stream and dedup_index_probe_stream.

Idempotence: foreachBatch is at-least-once, so the score sink
overwrites its batch_id-derived partition directory — a replayed batch
converges to identical files (the run_with_quarantine contract).
"""

from __future__ import annotations

from functools import partial

from ..operators.corpus import dsir_score_docs, dsir_select_docs
from .lm_stream import DOC_SCHEMA, _prepped_batch
from .runner import run_transform_stream


# Scores every micro-batch against the frozen (model, totals) frames into
# (doc_id, n_feat, log2_w, avg_bits). The model frames should be
# checkpointed / persisted by the caller (each micro-batch joins them).
run_dsir_score = partial(
    run_transform_stream,
    schema=DOC_SCHEMA,
    layer="scores",
    transform=lambda batch, model, totals: dsir_score_docs(_prepped_batch(batch), model, totals),
)


# The ingest-time SELECTION gate — the streaming leg of the full DSIR
# loop (score -> plan -> sample): every arriving micro-batch is scored
# against the frozen (model, totals) and immediately filtered through the
# frozen acceptance plan (corpus.dsir_select_docs — the deterministic
# salted-hash Bernoulli dsir_sample applies in batch). Per-batch cost is
# |batch| feature occurrences joined to the broadcastable model plus a
# broadcast plan-row filter; accepted docs flow on, rejected docs stop
# here — the bandwidth-saving shape a production ingest pipeline wants
# (score AND select at the edge, ship only the kept quarter).
#
# Both the weight and the keep/drop are per-document pure functions of
# frozen state, so the union of per-batch selections is byte-identical
# to batch dsir_sample over the same raw slice — certified against its
# oracle SQL verbatim.
run_dsir_sample = partial(
    run_transform_stream,
    schema=DOC_SCHEMA,
    layer="kept",
    transform=lambda batch, model, totals, plan: dsir_select_docs(
        dsir_score_docs(_prepped_batch(batch), model, totals), plan
    ),
)
