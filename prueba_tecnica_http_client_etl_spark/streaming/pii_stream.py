"""Streaming PII scrub — the ingest-time shape of the redaction gate
(operators/curation.pii_scrub): every arriving micro-batch of documents
is counted and redacted with the SAME per-doc rules (email / phone /
IPv4 -> typed tokens) before anything downstream sees the raw text —
the front-door position a production privacy gate must hold (scrub at
the edge; never land dirty bytes in the lake and clean them later).

Counts and redaction are per-document pure functions — they reference
only the document row, never other in-flight documents or any trained
state — so the union of per-batch outputs is byte-identical to the
batch scrub over the same corpus regardless of batching. That
decomposability is what lets the registry certify this stream against
pii_scrub's batch oracle SQL verbatim (the strongest check a stream
can carry) — the same argument as lm_score_stream / dsir_score_stream.

Per-batch cost: one embarrassingly parallel regexp pass (JVM
codegen'd — no Python in the loop) plus a partition-local parquet
write. State: none. Built on the shared foreachBatch scaffold
(streaming/runner.py), which owns the availableNow drain loop and the
idempotent per-batch-overwrite contract.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textprep as tp
from ..operators.curation import _dirty_col, scrub_pii_docs
from .runner import run_transform_stream

DOC_SCHEMA = "doc_id long, text string"


def _dirtied_batch(docs: DataFrame) -> DataFrame:
    """(doc_id, dirty) from a raw (doc_id, text) micro-batch — the same
    normalize + deterministic PII-injection expressions as the batch
    path's docs_normalized().withColumn('dirty', ...)."""
    return docs.withColumn("norm", F.expr(tp.SPARK_NORM)).withColumn("dirty", _dirty_col())


# Scrubs every micro-batch into (doc_id, n_emails, n_phones, n_ips,
# redacted_fp, n_chars_clean). ordered=False: the per-batch parquet write
# discards ordering, so the batch operator's final sort would be
# per-micro-batch tax.
run_pii_scrub = partial(
    run_transform_stream,
    schema=DOC_SCHEMA,
    layer="scrubbed",
    transform=lambda batch: scrub_pii_docs(_dirtied_batch(batch), ordered=False),
)
