"""Bloom-prescreened decontamination: the prescreen must be LOSSLESS
(byte-equality with the exact check — a Bloom filter has no false
negatives, and false positives are removed by the exact verify join),
the bitmap must be session-memoized trained state, and the prescreen
must sit below the exact join in the physical plan.
"""

from __future__ import annotations

from prueba_tecnica_http_client_etl_spark.functions import artifacts as A
from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain
from prueba_tecnica_http_client_etl_spark.operators.curation import (
    contamination_bloom,
    contamination_check,
)
from tests.conftest import SF_SMOKE


def _probe_gram_count(spark, stride):
    """Distinct probe grams of the docs at `stride` — the count the
    operator sizes its bitmap from."""
    from pyspark.sql import functions as F

    from prueba_tecnica_http_client_etl_spark.operators import curation as Cu

    d = Cu.docs_normalized(spark, SF_SMOKE).withColumn("grams", F.expr(Cu._SPARK_GRAMS))
    return (
        d.filter(F.col("doc_id") % stride == 0)
        .select(F.explode_outer("grams").alias("g"))
        .distinct()
        .count()
    )


def test_prescreen_is_lossless(spark):
    A.clear()
    drain()
    got = sorted(tuple(r) for r in contamination_bloom(spark, SF_SMOKE).collect())
    drain()
    want = sorted(tuple(r) for r in contamination_check(spark, SF_SMOKE).collect())
    assert got == want and len(got) > 0
    drain()


def test_bitmap_is_memoized_trained_state(spark):
    A.clear()
    drain()
    contamination_bloom(spark, SF_SMOKE).collect()
    from prueba_tecnica_http_client_etl_spark.operators import curation as Cu

    key = A.artifact_key(
        f"contamination_bloom_bitmap_m{Cu.bloom_bits_log2(_probe_gram_count(spark, Cu.PROBE_STRIDE))}"
        f"_k{Cu.BLOOM_K}",
        spark,
        SF_SMOKE,
        "documents",
    )
    assert key in A._STORE
    stored = A._STORE[key]
    n = len(A._STORE)
    drain()
    contamination_bloom(spark, SF_SMOKE).collect()
    assert A._STORE[key] is stored and len(A._STORE) == n
    A.clear()
    drain()


def test_prescreen_filter_sits_below_exact_join(spark):
    """The plan must test the broadcast bitmap (shiftright + element_at
    over the checkpointed 1-row array) BEFORE the probe-gram join — the
    whole point is that non-contaminated grams die map-side without
    ever probing the gram-string relation."""
    plan = (
        contamination_bloom(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "shiftright" in plan and "element_at" in plan, plan
    # the bitmap filter appears strictly below (after, in the printed
    # tree) the join that brings in the probe grams on 'gram'
    join_at = plan.index("Join")
    assert plan.index("shiftright") > join_at, plan
    A.clear()
    drain()


def test_bloom_auto_geometry_tracks_probe_volume(spark, monkeypatch):
    """Auto-sized geometry (verdict r10 item 3): m derives from the
    distinct probe-gram count, so bits/gram stays >= BLOOM_BITS_PER_GRAM
    at every probe volume (and < 2x it whenever the size is above the
    BLOOM_AUTO_MIN_BITS_LOG2 floor), the output stays byte-identical to the
    exact check at BOTH probe scales, and the two scales' bitmaps live
    under DISTINCT geometry-keyed artifacts."""
    from prueba_tecnica_http_client_etl_spark.operators import curation as Cu

    monkeypatch.setattr(Cu, "BLOOM_BITS_LOG2", None)  # force auto
    geoms = {}
    # stride 97 is the production probe split (lands on the floor at
    # this corpus); stride 3 probes ~32x the docs, pushing the auto
    # size above the floor — two genuinely different probe volumes
    for stride in (97, 3):
        # cleared per scale: PROBE_STRIDE is a fixed constant in
        # production (the artifact key deliberately identifies only the
        # corpus snapshot + geometry), so a monkeypatched stride must
        # not serve bitmaps across this test's scales
        A.clear()
        drain()
        monkeypatch.setattr(Cu, "PROBE_STRIDE", stride)
        got = sorted(tuple(r) for r in Cu.contamination_bloom(spark, SF_SMOKE).collect())
        drain()
        want = sorted(tuple(r) for r in Cu.contamination_check(spark, SF_SMOKE).collect())
        assert got == want and len(got) > 0
        drain()
        n = _probe_gram_count(spark, stride)
        m_log2 = Cu.bloom_bits_log2(n)
        key = A.artifact_key(
            f"contamination_bloom_bitmap_m{m_log2}_k{Cu.BLOOM_K}", spark, SF_SMOKE, "documents"
        )
        assert key in A._STORE, (stride, m_log2, list(A._STORE))
        bits_per_gram = (1 << m_log2) / max(n, 1)
        assert bits_per_gram >= Cu.BLOOM_BITS_PER_GRAM, (stride, n, m_log2)
        if m_log2 > Cu.BLOOM_AUTO_MIN_BITS_LOG2:
            assert bits_per_gram < 2 * Cu.BLOOM_BITS_PER_GRAM, (stride, n, m_log2)
        geoms[stride] = m_log2
    assert geoms[3] > geoms[97] == Cu.BLOOM_AUTO_MIN_BITS_LOG2, geoms
    A.clear()
    drain()


def test_losslessness_survives_a_saturated_filter(spark, monkeypatch):
    """Adversarial FP pressure: shrink the filter to 64 bits / 1 hash so
    false positives actually flow through the prescreen in volume — the
    output must STILL be byte-equal to the exact check (the verify join
    removes every FP), and the geometry-keyed artifact must not collide
    with the production-geometry bitmap cached by other tests."""
    from prueba_tecnica_http_client_etl_spark.operators import curation as Cu

    A.clear()
    drain()
    want = sorted(tuple(r) for r in contamination_check(spark, SF_SMOKE).collect())
    drain()
    monkeypatch.setattr(Cu, "BLOOM_BITS_LOG2", 6)
    monkeypatch.setattr(Cu, "BLOOM_K", 1)
    got = sorted(tuple(r) for r in Cu.contamination_bloom(spark, SF_SMOKE).collect())
    assert got == want
    tiny_key = A.artifact_key(
        "contamination_bloom_bitmap_m6_k1", spark, SF_SMOKE, "documents"
    )
    assert tiny_key in A._STORE
    # the tiny filter really is saturated (near-every word nonzero),
    # i.e. this test exercised genuine FP pass-throughs
    [row] = A._STORE[tiny_key].collect()
    assert sum(1 for w in row["bf"] if w != 0) >= 1
    A.clear()
    drain()


def test_bloom_geometry_pin_sources_and_floors(monkeypatch):
    """bloom_bits_log2 resolution order + floors (round-12 review): the
    attribute pin wins over auto sizing and clamps to the structural
    BLOOM_MIN_BITS_LOG2 floor (below it the packed-long bitmap has zero
    words and the prober faults)."""
    from prueba_tecnica_http_client_etl_spark.operators import curation as Cu

    monkeypatch.setattr(Cu, "BLOOM_BITS_LOG2", None)
    # auto floor
    assert Cu.bloom_bits_log2(1) == Cu.BLOOM_AUTO_MIN_BITS_LOG2
    # attribute pin wins over auto, but clamps to the structural floor
    monkeypatch.setattr(Cu, "BLOOM_BITS_LOG2", 20)
    assert Cu.bloom_bits_log2(1) == 20
    monkeypatch.setattr(Cu, "BLOOM_BITS_LOG2", 1)
    assert Cu.bloom_bits_log2(1) == Cu.BLOOM_MIN_BITS_LOG2
