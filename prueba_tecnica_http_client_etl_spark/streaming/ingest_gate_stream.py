"""Composed streaming INGEST ADMISSION GATE — the per-arrival decision
row a production training-data pipeline computes at the front door,
uniting the individually-certified frozen-state gates into ONE stream:

    quality reason        (stateless map — with_quality_reason)
    PII exposure count    (stateless map — scrub_pii_docs' counts)
    decontamination       (frozen Bloom bitmap + exact verify)
    near-dup verdict      (probe of the persisted LSH index)
    BPE symbol count      (frozen merge table)
    admitted = quality ok AND not contaminated AND dedup-novel

This is the ingest-time twin of the offline corpus_build_funnel: the
funnel accounts a finished snapshot per source; this gate decides each
ARRIVING document. Every column is a per-document pure function of
frozen state (stateless expressions, the frozen bitmap/probe relation,
the persisted index, the frozen merge list) — never of other in-flight
documents — so the union over micro-batches is byte-identical to
evaluating the whole arrival set at once, and the registry certifies
the stream against a batch SQL oracle that composes the stage oracles
(quality CTE, SQL_PII_SCRUB, SQL_CONTAMINATION_CHECK,
SQL_DEDUP_INCREMENTAL, the BPE chains) over the same arrival set.

Arrival set: the incremental-dedup incoming stride, minus the
benchmark holdout (probe-set docs never enter a training corpus — and
the decontamination stage is only defined against them as probes).

Per-batch cost: the prepped batch is pool-persisted once (five
consumers — the round-15 multi-consumer filter-pushdown lesson) and
every stage is |batch|-sized work against broadcast/bucketed frozen
state; the runner drains the pool per batch (bounded stream state).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textprep as tp
from ..operators.corpus import _bpe_apply_prepped, _bpe_symbols_select
from ..operators.curation import (
    _SPARK_GRAMS,
    _dirty_col,
    bloom_score_docs,
    scrub_pii_docs,
    with_quality_reason,
)
from ..plans.lsh_index import probe_lsh_index
from .runner import run_transform_stream

DOC_SCHEMA = "doc_id long, text string"


def ingest_gate_batch(
    batch: DataFrame,
    *,
    index_prefix: str,
    bf_row: DataFrame,
    probes: DataFrame,
    m_log2: int,
    merges: list[tuple],
) -> DataFrame:
    """(doc_id, reason, n_pii, contaminated, dedup_verdict, n_symbols,
    admitted) for one micro-batch of raw (doc_id, text) documents —
    each column computed by the SAME shared helper its certified stage
    uses, joined on doc_id within the batch."""
    from ..functions.cachepool import managed_persist

    spark = batch.sparkSession
    prepped = managed_persist(
        batch.withColumn("norm", F.expr(tp.SPARK_NORM))
        .withColumn("toks", F.expr(tp.SPARK_TOKS))
        .withColumn("sh", F.expr(tp.SPARK_SHINGLES))
        .withColumn("grams", F.expr(_SPARK_GRAMS))
        .withColumn("dirty", _dirty_col())
    )
    q = with_quality_reason(prepped).select("doc_id", "reason")
    pii = scrub_pii_docs(prepped, ordered=False).select(
        "doc_id",
        (F.col("n_emails") + F.col("n_phones") + F.col("n_ips")).alias("n_pii"),
    )
    cont = bloom_score_docs(
        prepped.select("doc_id", "grams"), bf_row, probes, m_log2, ordered=False
    ).select("doc_id", F.lit(1).alias("contam"))
    dd = probe_lsh_index(spark, prepped, prefix=index_prefix, ordered=False).select(
        "doc_id", F.col("verdict").alias("dedup_verdict")
    )
    sym = _bpe_symbols_select(
        _bpe_apply_prepped(prepped.select("doc_id", "toks"), merges)
    ).select("doc_id", "n_symbols")
    return (
        q.join(pii, "doc_id")
        .join(cont, "doc_id", "left")
        .join(dd, "doc_id")
        .join(sym, "doc_id")
        .select(
            "doc_id",
            "reason",
            "n_pii",
            F.coalesce(F.col("contam"), F.lit(0)).cast("long").alias("contaminated"),
            "dedup_verdict",
            "n_symbols",
            (
                (F.col("reason") == "ok")
                & F.col("contam").isNull()
                & (F.col("dedup_verdict") == "novel")
            ).alias("admitted"),
        )
    )


# Gates every arriving micro-batch against the frozen stage state into
# (doc_id, reason, n_pii, contaminated, dedup_verdict, n_symbols,
# admitted); ingest_gate_batch pools its prepped batch, so the pool is
# drained per batch.
run_ingest_gate = partial(
    run_transform_stream,
    schema=DOC_SCHEMA,
    layer="admissions",
    transform=ingest_gate_batch,
    drain_pool_per_batch=True,
)
