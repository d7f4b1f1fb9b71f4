"""Hot-bucket cap for the MinHash-LSH pair finder (operators/dedup.py
LSH_MAX_BUCKET): on an adversarial boilerplate corpus where one band
bucket holds >50% of all docs, the hot buckets must be detected and the
refused pairs counted exactly, and the persisted index must refuse the
hot bucket's near tier while still finding the genuine near-dup pair
outside it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prueba_tecnica_http_client_etl_spark.functions import textprep as tp
from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain, managed_persist
from prueba_tecnica_http_client_etl_spark.operators.dedup import (
    _cap_audit,
    _minhash_signatures,
    band_table,
    lsh_hot_buckets,
)

N_BOILER = 30  # identical docs -> every band bucket they share is hot
CAP = 8


@pytest.fixture(scope="module")
def adversarial_sh(spark):
    """60% boilerplate corpus: 30 byte-identical docs (all 4 band buckets
    collide for all 30) + two genuine near-dup pairs + filler singletons."""
    boiler = "the quick brown fox jumps over the lazy dog again and again " * 5
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    near_b = near_a + " omicron"  # high-Jaccard shingle overlap with near_a
    rows = [(i, boiler) for i in range(N_BOILER)]
    rows += [(100, near_a), (101, near_b)]
    # every filler token carries the doc index: no shared shingles at all
    rows += [(200 + i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = managed_persist(
        docs.withColumn("norm", F.expr(tp.SPARK_NORM))
        .withColumn("toks", F.expr(tp.SPARK_TOKS))
        .withColumn("sh", F.expr(tp.SPARK_SHINGLES))
        .select("doc_id", "sh")
    )
    yield sh
    drain()


def test_hot_buckets_detected(adversarial_sh):
    bands = band_table(_minhash_signatures(adversarial_sh))
    hot = lsh_hot_buckets(bands, max_bucket_size=CAP).collect()
    # identical docs share all LSH_BANDS band hashes -> each of those
    # buckets holds all 30 docs, far over the cap
    assert len(hot) == tp.LSH_BANDS
    assert all(r["bucket_size"] == N_BOILER for r in hot)


def test_cap_audit_counts_exactly(adversarial_sh):
    bands = band_table(_minhash_signatures(adversarial_sh))
    [audit] = _cap_audit(bands, max_bucket_size=CAP).collect()
    assert audit["n_hot_buckets"] == tp.LSH_BANDS
    assert audit["n_docs_affected"] == N_BOILER
    assert audit["n_pairs_dropped"] == tp.LSH_BANDS * (N_BOILER * (N_BOILER - 1) // 2)


def test_incremental_probe_caps_hot_index_buckets(spark):
    """dedup_incremental's index-side probe must refuse hot index
    buckets (round-7 review): an incoming doc colliding only with a
    boilerplate bucket is 'novel' via the near tier — its exact-dup
    twin still gets caught by the digest tier — and per-batch probe cost
    stays independent of the hot bucket's size. Exercised end-to-end
    through the persisted index too (build_lsh_index drops hot buckets
    at build time; probe verdicts must match dedup_incremental)."""
    from prueba_tecnica_http_client_etl_spark.operators.dedup import (
        LSH_MAX_BUCKET,
        docs_normalized,
    )
    from prueba_tecnica_http_client_etl_spark.plans.lsh_index import (
        build_lsh_index,
        probe_lsh_index,
    )

    boiler = "the quick brown fox jumps over the lazy dog again and again " * 5
    # index: 30 identical boilerplate docs (every shared band bucket hot)
    # + one genuine doc; incoming: one boilerplate copy + one near-dup of
    # the genuine doc
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    near_b = near_a + " omicron"
    rows = [(i, boiler) for i in range(1, 31)] + [(31, near_a)]
    incoming_rows = [(1000, boiler), (1001, near_b)]
    docs = spark.createDataFrame(rows + incoming_rows, "doc_id long, text string")
    norm = docs.withColumn("norm", F.expr(tp.SPARK_NORM)).withColumn(
        "toks", F.expr(tp.SPARK_TOKS)
    ).withColumn("sh", F.expr(tp.SPARK_SHINGLES)).select("doc_id", "norm", "sh")
    index_docs = norm.filter(F.col("doc_id") < 1000)
    incoming = norm.filter(F.col("doc_id") >= 1000)

    assert 30 > LSH_MAX_BUCKET  # the boilerplate bucket is over the cap
    build_lsh_index(index_docs, prefix="hotcap_test")
    verdicts = {
        r["doc_id"]: (r["verdict"], r["n_near_candidates"])
        for r in probe_lsh_index(spark, incoming, prefix="hotcap_test").collect()
    }
    # boilerplate copy: near tier refused the hot bucket, digest tier
    # still catches the exact duplicate
    assert verdicts[1000] == ("exact_dup", 0)
    # genuine near-dup outside the hot bucket is unaffected by the cap
    assert verdicts[1001][0] == "near_dup" and verdicts[1001][1] >= 1
    drain()
