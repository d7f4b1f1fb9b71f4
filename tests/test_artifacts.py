"""Session trained-artifact store (functions/artifacts.py): memoized
state must be bit-identical to a fresh retrain, keyed to the corpus
snapshot, reused (not rebuilt) across consumers, and bounded.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from prueba_tecnica_http_client_etl_spark.functions import artifacts as A
from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain
from prueba_tecnica_http_client_etl_spark.operators.dedup import (
    dedup_components,
    dedup_incremental,
    dedup_minhash_lsh,
)
from prueba_tecnica_http_client_etl_spark.operators.similarity import (
    ann_ivf_learned_recall,
    ann_pq_topk,
)
from tests.conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_memoized_equals_fresh(spark):
    """The store's core contract: a memo hit returns exactly the rows a
    cold retrain produces — across the artifact families (cluster
    labels; coarse centroids + ground truth via the recall gate; PQ
    codebook + codes via the ADC tier; LSH shingles/signatures/bands via
    the pair finder and the incremental prober)."""
    from prueba_tecnica_http_client_etl_spark.operators.corpus import (
        dsir_sample,
        lm_bigram_score,
    )
    from prueba_tecnica_http_client_etl_spark.operators.textops import (
        hybrid_doc_recall as _hybrid_recall,
    )
    from prueba_tecnica_http_client_etl_spark.operators.textops import (
        sparse_doc_knn_recall as _sparse_recall,
    )
    from prueba_tecnica_http_client_etl_spark.operators.curation import (
        dedup_survivors as _survivors,
    )

    for fn in (
        dedup_components,
        ann_ivf_learned_recall,
        ann_pq_topk,
        dedup_minhash_lsh,
        dedup_incremental,
        lm_bigram_score,
        # the DSIR acceptance-plan artifact via the batch selector
        dsir_sample,
        # the sparse exact-neighbor ground truth via its recall gate
        _sparse_recall,
        # the fused hybrid top-k list via its dense recall gate
        _hybrid_recall,
        # the survivor manifest (round-18; feeds corpus_build_funnel)
        _survivors,
    ):
        A.clear()
        drain()
        cold = _rows(fn(spark, SF_SMOKE))
        n_after_cold = len(A._STORE)
        assert n_after_cold > 0, fn.__name__  # the cold call trained
        drain()
        warm = _rows(fn(spark, SF_SMOKE))  # second call hits the memo
        # and it really was a memo hit, not a silent second cold build
        # under an unstable key (that would make warm == cold vacuous)
        assert len(A._STORE) == n_after_cold, fn.__name__
        assert warm == cold, fn.__name__
        drain()


def test_artifacts_are_reused_not_rebuilt(spark):
    """A second consumer must get the SAME stored frame (is-identity),
    and consuming queries must not grow the store."""
    A.clear()
    drain()
    dedup_components(spark, SF_SMOKE).collect()
    drain()
    key = A.artifact_key("dedup_component_labels", spark, SF_SMOKE, "documents")
    assert key in A._STORE
    stored = A._STORE[key]
    n_entries = len(A._STORE)
    dedup_components(spark, SF_SMOKE).collect()
    drain()
    assert A._STORE[key] is stored
    assert len(A._STORE) == n_entries
    A.clear()


def test_key_tracks_corpus_snapshot(spark, tmp_path):
    """Retrain triggers: a different sf_dir, a different source table,
    or a rewritten (new file identity) snapshot of the same path must all
    produce distinct keys; the same snapshot must key stably."""
    src = Path(SF_SMOKE) / "documents.parquet"
    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(src, d / "documents.parquet")

    k1 = A.artifact_key("x", spark, str(d), "documents")
    assert k1 == A.artifact_key("x", spark, str(d), "documents")
    assert k1 != A.artifact_key("x", spark, SF_SMOKE, "documents")
    assert k1 != A.artifact_key("x", spark, str(d), "embeddings")

    import os
    import time

    time.sleep(0.01)
    os.utime(d / "documents.parquet")  # snapshot rewritten in place
    assert A.artifact_key("x", spark, str(d), "documents") != k1


def test_in_place_part_rewrite_retrains(spark, tmp_path):
    """A part file rewritten in place under a directory table keeps the
    directory's mtime, inode and entries; the key follows the part file,
    so the next call retrains instead of serving the stale artifact."""
    import time

    table = tmp_path / "sf" / "documents.parquet"
    table.mkdir(parents=True)
    part = table / "part-00000.parquet"
    shutil.copy(Path(SF_SMOKE) / "documents.parquet", part)
    builds = []

    def build():
        builds.append(1)
        return spark.range(1)

    A.clear()
    A.trained_artifact(A.artifact_key("x", spark, str(table.parent), "documents"), build)
    A.trained_artifact(A.artifact_key("x", spark, str(table.parent), "documents"), build)
    assert len(builds) == 1
    dir_mtime = table.stat().st_mtime_ns
    time.sleep(0.01)
    part.write_bytes(part.read_bytes())  # same inode, same size, new mtime
    assert table.stat().st_mtime_ns == dir_mtime
    A.trained_artifact(A.artifact_key("x", spark, str(table.parent), "documents"), build)
    assert len(builds) == 2
    A.clear()


def test_consumer_reads_artifact_not_retrain(spark):
    """The no-retrain property, locked at the plan level: a PQ
    consumer's physical plan scans the checkpointed code table (an
    ExistingRDD — artifacts materialize at plan-construction time, so
    this holds from the first call) and contains NO generator at all
    since round 14: the encode chain (subspace posexplode over every
    vector plus the codebook seed selection) lives behind the artifact,
    and the query-side LUT is computed driver-side from the collected
    query set and broadcast into the vectorized scan — the exact shape
    a query over a persisted on-disk index would have."""
    A.clear()
    drain()
    plan = ann_pq_topk(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan
    assert plan.lower().count("posexplode") == 0, plan
    A.clear()
    drain()


def test_caller_supplied_emb_neither_poisons_nor_reads_store(spark):
    """The artifact keys identify a CORPUS SNAPSHOT, not an arbitrary
    frame: a caller passing its own emb (not flagged canonical) must
    train fresh from that frame — its results reflect the supplied data,
    the store gains no entry under the snapshot's key, and a later
    canonical call trains from the true corpus rather than being served
    the foreign frame's codes."""
    from prueba_tecnica_http_client_etl_spark.operators.similarity import _quantized

    A.clear()
    drain()
    # a deliberately DIFFERENT corpus frame under the same sf_dir (a
    # light filter — the codebook's minimum-seed-count guard correctly
    # rejects a frame too small to train on)
    foreign = _quantized(spark, SF_SMOKE).filter("vec_id % 25 != 0")
    foreign_rows = _rows(ann_pq_topk(spark, SF_SMOKE, emb=foreign))
    assert len(A._STORE) == 0  # nothing stored for the foreign frame
    drain()
    canonical_rows = _rows(ann_pq_topk(spark, SF_SMOKE))
    assert len(A._STORE) > 0
    # the foreign run really used the foreign frame (filtered ids absent)
    assert all(r[1] % 25 != 0 for r in foreign_rows)  # neighbor_id
    assert foreign_rows != canonical_rows
    A.clear()
    drain()


def test_dead_application_entries_pruned_on_insert(spark):
    """Artifacts keyed to another Spark application are orphans (their
    checkpoint blocks died with that context): inserting a new artifact
    must evict them so they cannot pin stale frames for the process
    lifetime, while same-app and un-appkeyed (synthetic) entries
    survive."""
    A.clear()
    dead = ("x", "/some/sf", 1.0, "app-dead-123")
    synthetic = ("synthetic-key",)
    A._STORE[dead] = spark.range(1)
    A._STORE[synthetic] = spark.range(1)
    live_key = A.artifact_key("y", spark, SF_SMOKE, "documents")
    A.trained_artifact(live_key, lambda: spark.range(1))
    assert dead not in A._STORE
    assert synthetic in A._STORE  # length-guard: only 4-tuple keys pruned
    assert live_key in A._STORE
    A.clear()


def test_store_is_bounded_lru(spark):
    """The store must cap its entry count, evicting least-recently-USED
    first (a hit refreshes recency — pure FIFO would evict the oldest
    actively-reused artifact and silently retrain it), so a long session
    over many corpora cannot accumulate unbounded checkpoint blocks."""
    A.clear()
    first_key = ("synthetic", "0")
    A.trained_artifact(first_key, lambda: spark.range(1))
    for i in range(1, A._MAX_ENTRIES):
        A.trained_artifact(("synthetic", str(i)), lambda: spark.range(1))
    # store is now full; a HIT on the oldest entry must refresh it...
    A.trained_artifact(first_key, lambda: spark.range(1))
    A.trained_artifact(("synthetic", "overflow"), lambda: spark.range(1))
    assert len(A._STORE) == A._MAX_ENTRIES
    # ...so the eviction lands on the least-recently-used entry instead
    assert first_key in A._STORE
    assert ("synthetic", "1") not in A._STORE
    assert ("synthetic", "overflow") in A._STORE
    A.clear()


def test_lsh_artifacts_reused_across_consumers(spark):
    """The round-8 LSH trained-state extension: the first LSH consumer
    trains shingles -> signatures -> bands (three chained checkpoints);
    a different LSH consumer afterwards must reuse the SAME frames, and
    its physical plan must scan checkpointed blocks (ExistingRDD) with
    no re-shingling (the interpreted normalize/shingle chain never
    appears in a consumer plan)."""
    from prueba_tecnica_http_client_etl_spark.operators.dedup import (
        dedup_lsh_cap_audit,
        lsh_bands,
        lsh_shingles,
        lsh_signatures,
    )

    A.clear()
    drain()
    dedup_minhash_lsh(spark, SF_SMOKE).collect()
    stored = {
        name: A._STORE[A.artifact_key(name, spark, SF_SMOKE, "documents")]
        for name in ("lsh_shingles", "lsh_signatures", "lsh_bands")
    }
    drain()
    # a second consumer reuses the identical STORED frames (the helpers
    # decorate each retrieval with a fresh no-broadcast hint wrapper, so
    # identity is checked on the store entries; the store must also not
    # have grown or replaced anything)
    dedup_lsh_cap_audit(spark, SF_SMOKE).collect()
    lsh_shingles(spark, SF_SMOKE), lsh_signatures(spark, SF_SMOKE), lsh_bands(spark, SF_SMOKE)
    for name, frame in stored.items():
        assert A._STORE[A.artifact_key(name, spark, SF_SMOKE, "documents")] is frame, name
    # and the consumer plan reads pinned blocks, never re-shingles
    plan = (
        dedup_minhash_lsh(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ExistingRDD" in plan, plan
    assert "regexp_replace" not in plan, plan  # the normalize chain
    A.clear()
    drain()


def test_hybrid_fused_memo_equals_live_fusion(spark):
    """The gates' fused-list memo is bit-identical to the live
    registered hybrid_doc_topk (the r16-item-6 convention: serving stays
    live, gates share the memo)."""
    from prueba_tecnica_http_client_etl_spark.operators.textops import (
        _hybrid_fused_artifact,
        hybrid_doc_topk,
    )

    A.clear()
    drain()
    memo = _rows(_hybrid_fused_artifact(spark, SF_SMOKE))
    drain()
    live = _rows(hybrid_doc_topk(spark, SF_SMOKE))
    assert memo == live and len(memo) > 0
    drain()
