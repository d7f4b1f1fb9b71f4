"""Persisted IVF-PQ code-index lifecycle (plans/pq_index.py): probes must
be bit-identical to ann_ivfpq_topk / ann_ivfpq_rerank on the same corpus
and quantizer, the ADC scan must read the bucketed codes table pruned to
the probed cells, the re-rank fetch must be a pruned point lookup into
the refine store, and a torn build (codes without vecs) must raise
loudly at re-rank."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain
from prueba_tecnica_http_client_etl_spark.operators.similarity import (
    QUERY_STRIDE,
    _quantized,
    ann_ivfpq_rerank,
    ann_ivfpq_topk,
)
from prueba_tecnica_http_client_etl_spark.plans import pq_index as PQI
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def built(spark):
    emb = _quantized(spark, SF_SMOKE).persist()
    PQI.build_pq_index(emb, prefix="t_pqidx", n_buckets=4)
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    yield emb, queries
    emb.unpersist()
    drain()


def test_adc_probe_matches_ann_ivfpq_topk(spark, built):
    """The persisted code index serves the EXACT pure-ADC verdicts the
    in-session tier serves — same trained quantizer, same codebook, same
    scan kernel."""
    _, queries = built
    probe = PQI.probe_pq_index(spark, queries, prefix="t_pqidx", rerank=False)
    got = [tuple(r) for r in probe.collect()]
    want = [tuple(r) for r in ann_ivfpq_topk(spark, SF_SMOKE).collect()]
    assert got == want
    assert got, "no ADC results at smoke scale"


def test_rerank_probe_matches_ann_ivfpq_rerank(spark, built):
    """Two-stage serving from the persisted index == the in-session
    two-stage tier, byte for byte (same ADC pool, same exact re-rank
    arithmetic over fetched full vectors)."""
    _, queries = built
    probe = PQI.probe_pq_index(spark, queries, prefix="t_pqidx", rerank=True)
    got = [tuple(r) for r in probe.collect()]
    want = [tuple(r) for r in ann_ivfpq_rerank(spark, SF_SMOKE).collect()]
    assert got == want
    assert got, "no rerank results at smoke scale"


def test_frozen_state_probe_is_byte_identical(spark, built):
    """probe_pq_index with pre-collected frozen state (the streaming
    probe's hoisted path — round-19 optimization) returns byte-identical
    results to the self-collecting default path, for both probe modes."""
    _, queries = built
    frozen = PQI.collect_pq_probe_state(spark, prefix="t_pqidx")
    for rerank in (False, True):
        got = [
            tuple(r)
            for r in PQI.probe_pq_index(
                spark, queries, prefix="t_pqidx", rerank=rerank, _frozen=frozen
            ).collect()
        ]
        want = [
            tuple(r)
            for r in PQI.probe_pq_index(
                spark, queries, prefix="t_pqidx", rerank=rerank
            ).collect()
        ]
        assert got == want
        assert got, "no results at smoke scale"


def test_adc_scan_reads_codes_bucket_pruned(spark, built):
    """The ADC stage must read ONLY the probed cells' buckets of the
    codes table (literal cell-id predicate -> SelectedBucketsCount +
    PushedFilters), and must never scan the refine store."""
    _, queries = built
    df = PQI.probe_pq_index(spark, queries, prefix="t_pqidx", rerank=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "t_pqidx_codes" in plan
    scan = plan.split("t_pqidx_codes", 1)[1]
    assert "SelectedBucketsCount" in scan, plan
    pushed = scan.split("PushedFilters: [", 1)[1].split("]")[0]
    assert "cent_id" in pushed, pushed
    assert "t_pqidx_vecs" not in plan, "pure-ADC probe touched the refine store"


def test_rerank_fetch_is_pruned_point_lookup(spark, built):
    """The re-rank stage fetches full vectors with a literal id-set
    predicate on the bucketed refine store — pruned point lookups, not
    a corpus scan."""
    _, queries = built
    df = PQI.probe_pq_index(spark, queries, prefix="t_pqidx", rerank=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "t_pqidx_vecs" in plan
    scan = plan.split("t_pqidx_vecs", 1)[1]
    assert "SelectedBucketsCount" in scan, plan
    pushed = scan.split("PushedFilters: [", 1)[1].split("]")[0]
    assert "vec_id" in pushed, pushed
    assert "t_pqidx_codes" not in plan, (
        "the returned re-rank frame re-scans the code tier (the ADC stage "
        "is eager by design; its scan must not ride into the refine plan)"
    )


def test_missing_index_fails_loudly(spark, built):
    _, queries = built
    with pytest.raises(ValueError, match="missing tables"):
        PQI.probe_pq_index(spark, queries, prefix="t_pq_nope")


def test_torn_append_detected_loudly(spark):
    """Codes written, vecs write crashed: the vectors ADC-rank correctly
    (codes are complete) but any that reach the re-rank fetch must raise
    — never score from a silently-missing refine row."""
    emb = _quantized(spark, SF_SMOKE).persist()
    try:
        # 90/10 split: the codebook trainer needs >= PQ_K x PQ_CB_STRIDE
        # (416) vectors in A at the 500-vector smoke scale
        part = F.col("vec_id") % 10
        a, b = emb.filter(part != 1), emb.filter(part == 1)
        queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
        PQI.build_pq_index(a, prefix="t_pqtorn", n_buckets=4)
        # codes for B with no refine rows: a write that died between them
        rows = PQI._encode_rows(
            b, spark.table("t_pqtorn_cents"), spark.table("t_pqtorn_codebook")
        )
        rows.write.mode("append").format("parquet").bucketBy(
            4, "cent_id"
        ).saveAsTable("t_pqtorn_codes")
        # ADC-only probes still serve (codes are complete and correct)
        adc = PQI.probe_pq_index(spark, queries, prefix="t_pqtorn", rerank=False)
        assert adc.count() > 0
        with pytest.raises(Exception, match="no refine row"):
            PQI.probe_pq_index(spark, queries, prefix="t_pqtorn", rerank=True).collect()
    finally:
        emb.unpersist()
        drain()
