"""Semantic and plan-shape checks for the corpus-preparation operators
(vocab/repetition/packing), k-means, and the bucketed time-range join —
the properties the oracle hash can't see: plan scalability and internal
consistency invariants.
"""

from __future__ import annotations

from collections import defaultdict

from tests.conftest import SF_SMOKE


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_vocab_topk_is_take_ordered_and_bounded(spark):
    from prueba_tecnica_http_client_etl_spark.operators.corpus import VOCAB_TOPK, vocab_topk

    df = vocab_topk(spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in _physical(df), _physical(df)
    rows = df.collect()
    assert len(rows) <= VOCAB_TOPK
    counts = [r.n_occurrences for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(r.n_docs <= r.n_occurrences for r in rows)


def test_repetition_score_flags_follow_thresholds(spark):
    from prueba_tecnica_http_client_etl_spark.operators.corpus import (
        DUP_TRIGRAM_MAX,
        TOP_BIGRAM_MAX,
        repetition_score,
    )

    rows = repetition_score(spark, SF_SMOKE).collect()
    assert rows, "empty result"
    for r in rows:
        expected = 1 if (r.top_bigram_frac > TOP_BIGRAM_MAX or r.dup_trigram_frac > DUP_TRIGRAM_MAX) else 0
        assert r.repetitive == expected, r
    # the thresholds sit inside the corpus distribution: both branches occur
    flags = {r.repetitive for r in rows}
    assert flags == {0, 1}, flags


def test_sequence_pack_stream_is_contiguous_per_source(spark):
    """Within each source shard the doc stream must tile: each doc starts
    where the previous one ended, bins advance monotonically, and
    crosses_boundary is exactly 'start bin != end bin'."""
    from prueba_tecnica_http_client_etl_spark.operators.corpus import CONTEXT_TOKENS, sequence_pack

    rows = sequence_pack(spark, SF_SMOKE).collect()
    by_source = defaultdict(list)
    for r in rows:
        by_source[r.source].append(r)
    for source, docs in by_source.items():
        docs.sort(key=lambda r: r.doc_id)
        expect_off = 0
        for r in docs:
            assert r.start_off == expect_off, (source, r)
            assert r.bin_id == r.start_off // CONTEXT_TOKENS
            end_bin = (r.start_off + r.n_tokens - 1) // CONTEXT_TOKENS
            assert r.crosses_boundary == (1 if end_bin > r.bin_id else 0), r
            expect_off += r.n_tokens


def test_sequence_pack_window_is_per_source_not_global(spark):
    """The only sort wide enough to matter must be partitioned by source
    (shard-local window), never a single global window."""
    from prueba_tecnica_http_client_etl_spark.operators.corpus import sequence_pack

    plan = _physical(sequence_pack(spark, SF_SMOKE))
    assert "hashpartitioning(source" in plan, plan


def test_kmeans_partitions_all_vectors_over_seed_centroids(spark):
    from prueba_tecnica_http_client_etl_spark.operators.similarity import (
        _CENT_CAP,
        CENTROID_STRIDE,
        kmeans_embeddings,
    )
    from prueba_tecnica_http_client_etl_spark.schemas import load_table

    rows = kmeans_embeddings(spark, SF_SMOKE).collect()
    n_vec = load_table(spark, SF_SMOKE, "embeddings").count()
    assert sum(r.n_vectors for r in rows) == n_vec
    seeds = {r for (r,) in load_table(spark, SF_SMOKE, "embeddings")
             .selectExpr("vec_id").collect()
             if r % CENTROID_STRIDE == 0 and r < _CENT_CAP}
    assert {r.cluster_id for r in rows} <= seeds
    assert all(r.inertia >= 0 for r in rows)


def test_tokenize_ids_broadcasts_the_dictionary(spark):
    """The vocab application must be a broadcast join (dictionary is
    bounded by VOCAB_TOPK) — a shuffled join here would repartition the
    whole exploded corpus on token text."""
    from prueba_tecnica_http_client_etl_spark.operators.corpus import tokenize_ids

    plan = _physical(tokenize_ids(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan


def test_contamination_check_broadcasts_probe_set(spark):
    """The decontamination join must broadcast the probe-gram side —
    shuffling the corpus grams on gram text is the plan that dies at
    100 TB."""
    from prueba_tecnica_http_client_etl_spark.operators.curation import contamination_check

    plan = _physical(contamination_check(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan


def test_contamination_check_keeps_gram_lambda_above_shuffle(spark):
    """Regression for the round-3 fix: with a plain explode, Catalyst
    pushes the generator's implied size(grams)>0 filter below the
    explicit repartition into the single-task scan, re-evaluating the
    interpreted gram transform serially (measured ~10s vs <1s at sf0.1).
    explode_outer leaves no size() filter anywhere in the plan."""
    from prueba_tecnica_http_client_etl_spark.operators.curation import contamination_check

    plan = _physical(contamination_check(spark, SF_SMOKE))
    assert "Filter (size(" not in plan, plan


def test_curation_pipeline_funnel_conserves_documents(spark):
    """Every input document must land in exactly one funnel bucket:
    quality-dropped, duplicate-dropped, or packed — per source and in
    total; bins must cover the packed tokens."""
    from prueba_tecnica_http_client_etl_spark.operators.curation import (
        PIPELINE_CONTEXT_TOKENS,
        curation_pipeline,
    )
    from prueba_tecnica_http_client_etl_spark.schemas import load_table

    rows = curation_pipeline(spark, SF_SMOKE).collect()
    assert sum(r.n_docs_in for r in rows) == load_table(spark, SF_SMOKE, "documents").count()
    for r in rows:
        assert r.n_docs_in == r.n_drop_quality + r.n_drop_dup + r.n_docs_packed, r
        assert r.n_bins == (r.n_tokens_packed + PIPELINE_CONTEXT_TOKENS - 1) // PIPELINE_CONTEXT_TOKENS, r


def test_ann_cosine_vectorized_matches_relational_exactly(spark):
    """The numpy-matmul scoring path must be byte-identical to the
    relational JVM fold: quantized dot products are integers < 2^47,
    exact in float64 under any summation order, and the tie-break total
    order is the same in the per-partition heap and the global window."""
    from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain
    from prueba_tecnica_http_client_etl_spark.operators.similarity import ann_cosine_topk

    fast = sorted(map(tuple, ann_cosine_topk(spark, SF_SMOKE, vectorized=True).collect()))
    drain()
    slow = sorted(map(tuple, ann_cosine_topk(spark, SF_SMOKE, vectorized=False).collect()))
    drain()
    assert fast == slow and len(fast) > 0


def test_ivf_assign_vectorized_matches_relational_exactly(spark, monkeypatch):
    """The Arrow-batched centroid assignment (numpy matmul + stable
    argsort) must be byte-identical to the relational broadcast-join +
    window rank on every tier shape: the integer dots are exact in
    float64 and the (cos desc, cent_id asc) stable ordering reproduces
    row_number's total order — including the label carry of the
    filtered tier and the probe fan-out of query rows."""
    from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain, managed_persist
    from prueba_tecnica_http_client_etl_spark.operators import similarity as S

    # (vectorized flag, cogroup cell threshold): the smoke corpus has
    # too few cells for the cogroup auto-rule, so move the threshold to
    # cover all three physical shapes — fully relational, vectorized
    # assignment + join scoring (threshold above any cell count),
    # vectorized assignment + cogroup scoring (threshold 0)
    modes = [(False, S.IVF_COGROUP_MIN_CELLS), (True, 10**9), (True, 0)]
    for same_label, nprobe in [(False, S.NPROBE), (True, S.FILTERED_NPROBE)]:
        outs = []
        for vec, min_cells in modes:
            monkeypatch.setattr(S, "IVF_COGROUP_MIN_CELLS", min_cells)
            emb = managed_persist(S._quantized(spark, SF_SMOKE))
            cents = S._strided_seeds(emb).selectExpr(
                "vec_id as cent_id", "q as qc", "nrm as nc"
            )
            outs.append(sorted(map(tuple, S._ivf_probe_topk(
                emb, cents, nprobe=nprobe, same_label=same_label, vectorized=vec
            ).collect())))
            drain()
        assert outs[0] == outs[1] == outs[2] and len(outs[0]) > 0, (same_label, nprobe)


def test_range_join_is_equi_join_not_nested_loop(spark):
    """The band join must compile to a hash/merge equi-join on
    (user_id, bucket) — a nested-loop or cartesian plan means the range
    predicate failed to anchor on the bucket equi-key and would be
    O(|views| x |purchases|) at scale."""
    from prueba_tecnica_http_client_etl_spark.operators.analytics import purchases_near_views_range

    plan = _physical(purchases_near_views_range(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_ann_filtered_topk_label_contract(spark):
    """Every neighbor shares its query's label, no self-pairs, and ranks
    are contiguous from 1 per query (a query whose label is missing from
    all probed cells may return < TOPK rows — the honest pre-filter
    contract)."""
    from collections import defaultdict

    from prueba_tecnica_http_client_etl_spark.operators.similarity import (
        TOPK,
        ann_filtered_topk,
    )
    from prueba_tecnica_http_client_etl_spark.schemas import load_table

    rows = ann_filtered_topk(spark, SF_SMOKE).collect()
    assert rows
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "label").collect()
    }
    per_q = defaultdict(list)
    for r in rows:
        assert r.label == labels[r.query_id] == labels[r.neighbor_id]
        assert r.query_id != r.neighbor_id
        per_q[r.query_id].append(r.rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= TOPK


def test_dsir_resample_plan_waterfill_contract(spark):
    """The resampling plan must honor the waterfilling semantics: rates
    are min(1, 2^(log2_w - t*)) — exactly 1 at/above the threshold,
    halving per weight octave below it; the total expected sample is
    the LARGEST power-of-two-threshold draw that does not exceed the
    floor(n * NUM/DEN) budget (one threshold step down must overshoot);
    and accounting conserves the bucket counts against dsir_importance."""
    from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain
    from prueba_tecnica_http_client_etl_spark.operators.corpus import (
        DSIR_RESAMPLE_DEN,
        DSIR_RESAMPLE_NUM,
        dsir_importance,
        dsir_resample_plan,
    )

    rows = dsir_resample_plan(spark, SF_SMOKE).collect()
    drain()
    assert rows
    t_star = rows[0].threshold_log2
    n_total = sum(r.n_docs for r in rows)
    target = (n_total * DSIR_RESAMPLE_NUM) // DSIR_RESAMPLE_DEN
    exp_kept = sum(r.exp_kept for r in rows)
    assert exp_kept <= target + 1e-6
    # one threshold step looser must overshoot the budget (t* minimal)
    overshoot = sum(r.n_docs * min(1.0, 2.0 ** (r.log2_w - (t_star - 1))) for r in rows)
    assert overshoot > target
    for r in rows:
        assert r.threshold_log2 == t_star
        want = min(1.0, 2.0 ** (r.log2_w - t_star))
        # truncated tail: buckets deeper than the scale are planned at 0
        if r.accept_num == 0:
            assert want < 2.0 ** -39
        else:
            assert abs(r.accept_rate - want) < 1e-6
        assert (r.accept_rate == 1.0) == (r.log2_w >= t_star)
    # bucket counts conserve the scored docs
    scored = dsir_importance(spark, SF_SMOKE).count()
    drain()
    assert n_total == scored


def test_sequence_pack_greedy_truncation_and_next_fit(spark, monkeypatch):
    """With the context shrunk below the longest doc, the truncation
    path must engage and the per-shard next-fit recurrence must match a
    pure-Python replay of the same rule (the oracle SQL bakes the
    production constant, so this adversarial geometry is asserted
    against the reference replay instead)."""
    import math

    from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain
    from prueba_tecnica_http_client_etl_spark.operators import corpus as Co
    from pyspark.sql import functions as F

    cap = 64
    monkeypatch.setattr(Co, "CONTEXT_TOKENS", cap)
    rows = {r.source: r for r in Co.sequence_pack_greedy(spark, SF_SMOKE).collect()}
    drain()
    assert rows
    raw = (
        Co.docs_normalized(spark, SF_SMOKE)
        .select("source", "doc_id", F.size("toks").alias("n"))
        .collect()
    )
    drain()
    by_src = {}
    for r in sorted(raw, key=lambda r: (r.source, r.doc_id)):
        by_src.setdefault(r.source, []).append(int(r.n))
    truncated_somewhere = False
    for src, ns in by_src.items():
        m = [min(x, cap) for x in ns]
        fill, bins = 0, 0
        for x in m:
            if bins == 0 or fill + x > cap:
                bins, fill = bins + 1, x
            else:
                fill += x
        got = rows[src]
        assert got.n_docs == len(ns)
        assert got.n_tokens == sum(ns)
        assert got.n_trunc_tokens == sum(ns) - sum(m)
        truncated_somewhere = truncated_somewhere or got.n_trunc_tokens > 0
        assert got.n_bins == bins
        assert got.n_bins_concat == (sum(m) + cap - 1) // cap
        assert got.waste_tokens == bins * cap - sum(m)
        assert got.utilization == math.floor(sum(m) / (bins * cap) * 1e6 + 0.5) / 1e6
    assert truncated_somewhere, "shrunken context must exercise truncation"


def test_training_order_is_a_per_epoch_permutation(spark):
    """Order-generation semantics: every packed bin appears EXACTLY once
    per epoch (a permutation, not a sample), positions are contiguous
    1..|shard| within every (epoch, shard), and the two epochs'
    placements are genuinely decorrelated (most bins land on a
    different (shard, pos) — the whole point of re-salting per epoch)."""
    from collections import Counter

    from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain
    from prueba_tecnica_http_client_etl_spark.operators.corpus import (
        TRAIN_EPOCHS,
        training_order,
    )

    rows = training_order(spark, SF_SMOKE).collect()
    per_epoch = Counter(r.epoch for r in rows)
    assert set(per_epoch) == set(range(TRAIN_EPOCHS))
    n_bins = per_epoch[0]
    assert all(c == n_bins for c in per_epoch.values())
    for e in per_epoch:
        assert Counter((r.source, r.bin_id) for r in rows if r.epoch == e) == Counter(
            (r.source, r.bin_id) for r in rows if r.epoch == 0
        )
    shard_pos = Counter()
    for r in rows:
        shard_pos[(r.epoch, r.shard)] = max(shard_pos[(r.epoch, r.shard)], r.pos)
    for (e, s), mx in shard_pos.items():
        got = sorted(r.pos for r in rows if (r.epoch, r.shard) == (e, s))
        assert got == list(range(1, mx + 1)), (e, s)
    place = {}
    for r in rows:
        place.setdefault((r.source, r.bin_id), {})[r.epoch] = (r.shard, r.pos)
    moved = sum(1 for p in place.values() if p[0] != p[1])
    assert moved > 0.5 * n_bins, f"epochs look correlated: {moved}/{n_bins} moved"
    drain()


def test_training_order_schedules_every_content_bin(spark):
    """COMPLETENESS (round-12 review): the work order must schedule
    every bin sequence_pack_ids emits content for — including interior
    and tail bins of documents longer than CONTEXT_TOKENS, which have
    no document STARTING in them (deriving bins from distinct start
    bins dropped those; a loader replaying the order would
    deterministically never serve their sequences). Also guards the
    oracle's fixed range() grid against the observed bin spread."""
    from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain
    from prueba_tecnica_http_client_etl_spark.operators.corpus import (
        TRAIN_BIN_GRID,
        sequence_pack_ids,
        training_order,
    )

    content_bins = {
        (r.source, r.bin_id) for r in sequence_pack_ids(spark, SF_SMOKE).collect()
    }
    drain()
    order_bins = {
        (r.source, r.bin_id)
        for r in training_order(spark, SF_SMOKE).collect()
        if r.epoch == 0
    }
    drain()
    assert order_bins == content_bins
    assert max(b for _, b in order_bins) + 64 < TRAIN_BIN_GRID


def test_bin_universe_skips_zero_token_sources(spark):
    """Round-12 ADVICE: for a source with total_toks = 0 the sequence
    end is floor(-1/C) = -1 and Spark's sequence(0, -1) is DESCENDING
    [0, -1] — two phantom bins the DuckDB oracle never emits. The bin
    universe must drop such sources entirely and never emit a negative
    bin_id."""
    from prueba_tecnica_http_client_etl_spark.operators.corpus import (
        CONTEXT_TOKENS,
        _bin_universe,
    )

    packed = spark.createDataFrame(
        [
            ("a", 0, CONTEXT_TOKENS + 5),  # spans bins 0 and 1
            ("z", 0, 0),  # zero-token source: no bins at all
        ],
        "source string, start_off long, n_tokens long",
    )
    rows = sorted(tuple(r) for r in _bin_universe(packed).collect())
    assert rows == [("a", 0), ("a", 1)]


def test_pq_encode_vectorized_matches_relational_exactly(spark):
    """The Arrow-batched PQ encode (einsum distances + per-(row, sub)
    argmin) must be byte-identical to the relational broadcast-join +
    struct-min on both families: plain codes over raw vectors and
    residual codes with the cent_id carry. Every distance term is an
    exact integer in float64 and numpy argmin's first-minimum IS the
    (d2, code_id) tie-break over code_id-ascending columns."""
    import pyspark.sql.functions as F

    from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain, managed_persist
    from prueba_tecnica_http_client_etl_spark.operators import similarity as S

    emb = managed_persist(S._quantized(spark, SF_SMOKE))
    cb = managed_persist(S._pq_codebook(emb))
    fast = sorted(map(tuple, S._pq_encode(emb, cb, vectorized=True).collect()))
    slow = sorted(map(tuple, S._pq_encode(emb, cb, vectorized=False).collect()))
    assert fast == slow and len(fast) > 0
    drain()

    # residual family with the cent_id carry
    cents = S._strided_seeds(emb).selectExpr("vec_id as cent_id", "q as qc")
    resid = managed_persist(
        S._kmeans_assign(emb, cents)
        .select("vec_id", "cent_id", F.zip_with("q", "qc", lambda x, c: x - c).alias("q"))
    )
    rcb = managed_persist(S._pq_codebook(resid))
    fast_r = sorted(map(tuple, S._pq_encode(resid, rcb, carry=["cent_id"], vectorized=True).collect()))
    slow_r = sorted(map(tuple, S._pq_encode(resid, rcb, carry=["cent_id"], vectorized=False).collect()))
    assert fast_r == slow_r and len(fast_r) > 0
    drain()


def test_kmeans_assign_vectorized_matches_relational_exactly(spark):
    """The Arrow-batched Lloyd assignment (matmul d2 + first-min argmin)
    must be byte-identical to the relational struct-min — including the
    winner's centroid payload (qc) the residual-PQ path subtracts."""
    from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain, managed_persist
    from prueba_tecnica_http_client_etl_spark.operators import similarity as S

    emb = managed_persist(S._quantized(spark, SF_SMOKE))
    cents = S._strided_seeds(emb).selectExpr("vec_id as cent_id", "q as qc")

    def norm(df):
        return sorted(
            (r.vec_id, tuple(r.q), r.nrm, r.d2, r.cent_id, tuple(r.qc))
            for r in df.collect()
        )

    fast = norm(S._kmeans_assign(emb, cents, vectorized=True))
    slow = norm(S._kmeans_assign(emb, cents, vectorized=False))
    assert fast == slow and len(fast) > 0
    drain()


def test_pq_scored_vectorized_matches_relational_exactly(spark):
    """The flat-PQ ADC scan (broadcast query LUTs + partition-local
    top-pool cut) must reproduce the relational LUT equi-join + groupBy
    byte-for-byte through the consumer's ranking — the local cut is
    lossless because every downstream cut is <= the local pool size."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain, managed_persist
    from prueba_tecnica_http_client_etl_spark.functions.portable import roundn
    from prueba_tecnica_http_client_etl_spark.operators import similarity as S

    outs = []
    for vec in (True, False):
        emb = managed_persist(S._quantized(spark, SF_SMOKE))
        w = Window.partitionBy("query_id").orderBy(F.col("cos_hat").desc(), F.col("neighbor_id"))
        df = (
            S._pq_scored(spark, SF_SMOKE, emb, canonical=False, vectorized=vec)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= S.PQ_RERANK_CANDIDATES)
            .select("query_id", "neighbor_id", "rank", roundn(F.col("cos_hat") + 1.0, 6).alias("c"))
        )
        outs.append(sorted(map(tuple, df.collect())))
        drain()
    assert outs[0] == outs[1] and len(outs[0]) > 0


def test_ivfpq_scored_dual_path_all_shapes(spark, monkeypatch):
    """The IVF-PQ serving chain must be byte-identical across its three
    physical shapes: fully relational, vectorized assign/encode/probe +
    relational ADC join, and vectorized + cogrouped ADC scan (the smoke
    corpus has too few cells for the auto-rule, so a threshold of 0
    covers the cogroup shape). Compared through the consumer's ranking at the
    rerank pool cut — the widest downstream cut."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain, managed_persist
    from prueba_tecnica_http_client_etl_spark.functions.portable import roundn
    from prueba_tecnica_http_client_etl_spark.operators import similarity as S

    modes = [(False, S.IVF_COGROUP_MIN_CELLS), (True, 10**9), (True, 0)]
    outs = []
    for vec, min_cells in modes:
        monkeypatch.setattr(S, "IVF_COGROUP_MIN_CELLS", min_cells)
        emb = managed_persist(S._quantized(spark, SF_SMOKE))
        w = Window.partitionBy("query_id").orderBy(F.col("cos_hat").desc(), F.col("neighbor_id"))
        df = (
            S._ivfpq_scored(spark, SF_SMOKE, emb, canonical=False, vectorized=vec)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= S.IVFPQ_RERANK_CANDIDATES)
            .select("query_id", "neighbor_id", "rank", roundn(F.col("cos_hat") + 1.0, 6).alias("c"))
        )
        outs.append(sorted(map(tuple, df.collect())))
        drain()
    assert outs[0] == outs[1] == outs[2] and len(outs[0]) > 0


def test_score_cells_label_dtype_is_int32(spark, monkeypatch):
    """The cogrouped scorer fills the declared IntegerType label with an
    explicit int32 array (round-13 verdict nit) — and the filtered tier
    scored by cogroup still matches the join-scored output."""
    from pyspark.sql import types as T

    from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain, managed_persist
    from prueba_tecnica_http_client_etl_spark.operators import similarity as S

    monkeypatch.setattr(S, "IVF_COGROUP_MIN_CELLS", 0)
    emb = managed_persist(S._quantized(spark, SF_SMOKE))
    cents = S._strided_seeds(emb).selectExpr("vec_id as cent_id", "q as qc", "nrm as nc")
    df = S._ivf_probe_topk(emb, cents, nprobe=S.NPROBE, same_label=True)
    assert df.schema["label"].dataType == T.IntegerType()
    cg = sorted(map(tuple, df.collect()))
    drain()
    monkeypatch.setattr(S, "IVF_COGROUP_MIN_CELLS", 10**9)
    emb = managed_persist(S._quantized(spark, SF_SMOKE))
    cents = S._strided_seeds(emb).selectExpr("vec_id as cent_id", "q as qc", "nrm as nc")
    jn = sorted(map(tuple, S._ivf_probe_topk(emb, cents, nprobe=S.NPROBE, same_label=True).collect()))
    drain()
    assert cg == jn and len(cg) > 0
