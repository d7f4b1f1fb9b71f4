"""Named-query registry: every implemented operator exposed as
(spark, sf_dir) -> DataFrame, with a DuckDB oracle SQL twin where the
semantics are SQL-expressible (driver contract, /root/repo/__spark_entry__.py).

Conventions that make the driver's order-insensitive value-hash match:
- every computed column is aliased identically in Spark and SQL;
- doubles are rounded with the portable round2/roundn (floor(x*s+0.5)/s);
- dates/timestamps are projected as strings;
- DuckDB integer sums are CAST to BIGINT (DuckDB sum(int) is HUGEINT).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import analytics, corpus, curation, dedup, multimodal, similarity, textops
from .operators import kpi as kpi_ops
from .operators import report as report_ops
from .schemas import load_table
from .sources import synthetic
from .functions.cleaning import clean_http_log
from .streaming import ann_probe_stream as APS
from .streaming import bpe_stream as BPS
from .streaming import contamination_stream as CS
from .streaming import dedup_stream as DS
from .streaming import dsir_stream as DSIR
from .streaming import edit_probe_stream as EPS
from .streaming import image_probe_stream as IMG
from .streaming import index_probe_stream as IPS
from .streaming import ingest_gate_stream as IGS
from .streaming import kpi_stream as KS
from .streaming import lm_stream as LMS
from .streaming import pii_stream as PS
from .streaming import quality_stream as QS
from .streaming import range_join_stream as RJ
from .streaming import sessionize_stream as SS
from .streaming import video_probe_stream as VPS
from .streaming.runner import StreamSpec, ensure_index, replay

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _spread_narrow_scan(df: DataFrame, key: str) -> DataFrame:
    """Scale-adaptive spread of a scan whose split count is below the
    core count (guide §2.5 'input skew: one huge unsplittable file').

    The sf testdata ships each table as ONE single-row-group parquet
    file, so the scan is physically unsplittable and every per-row
    expression downstream (the 11 salted-md5 streams + timestamp
    formatting of the dirty-log derivation — measured 1.2 of
    clean_coerce's 2.0 s at sf0.1) runs in a single task. At production
    scale the same scan has thousands of row-group splits and this
    helper is a NO-OP — the partition-count test keeps the 100 TB plan
    free of the raw-fact-table exchange an unconditional repartition
    would add (which is why the unconditional form was rejected when
    measured in an earlier round). The spread keys on a stable row id
    (never rand() — SPARK-38388), so results are identical under any
    partitioning."""
    from pyspark.sql import functions as F

    from .session import default_parallelism

    n = default_parallelism()
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n, F.col(key))
    return df


def _events_clean_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> dirty raw log -> cleaned typed log (single lazy plan)."""
    return clean_http_log(
        synthetic.http_log_from_events(
            _spread_narrow_scan(load_table(spark, sf_dir, "events"), "event_id")
        )
    )


_LOG_CTES = "WITH " + synthetic.sql_http_log_cte().strip() + ",\n" + synthetic.sql_clean_log_cte().strip()


# --- Reference pipeline surface (SURVEY §2.1 S11, §2.3 P1-P7, §2.4 A1-A13) ---
# Registered first: queries() is registration order, so these four lead
# any first-N sample of it.


@register(
    "clean_coerce",
    _LOG_CTES + "\nSELECT * FROM clean_log",
)
def q_clean_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P7: projection, null-filter, date derivation, endpoint
    normalization, defensive casts with cast-failure-as-data semantics."""
    return _events_clean_log(spark, sf_dir)


@register("kpi_daily", _LOG_CTES + kpi_ops.sql_kpi_daily_select())
def q_kpi_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A8 + O1: the reference's flagship KPI fact table."""
    return kpi_ops.kpi_daily(_events_clean_log(spark, sf_dir))


_KPI_CTE = _LOG_CTES + ",\nkpi AS (" + kpi_ops.sql_kpi_daily_select() + ")"


@register("kpi_report_endpoint", _KPI_CTE + report_ops.sql_report_by_endpoint_select())
def q_kpi_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9-A11 + P8-P10 + O2: weighted per-endpoint report with alert flag."""
    return report_ops.report_by_endpoint(kpi_ops.kpi_daily(_events_clean_log(spark, sf_dir)))


@register("kpi_global", _KPI_CTE + report_ops.sql_global_metrics_select())
def q_kpi_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12-A13: single-row global metrics incl. p90-of-p90s approximation."""
    return report_ops.global_metrics(kpi_ops.kpi_daily(_events_clean_log(spark, sf_dir)))


@register("kpi_global_exact", _LOG_CTES + report_ops.sql_global_metrics_exact_select())
def q_kpi_global_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact raw-data global metrics — the improvement the reference
    flags as impossible from its KPI intermediate (p90-of-p90s)."""
    return report_ops.global_metrics_exact(_events_clean_log(spark, sf_dir))


@register("kpi_anomaly_days", _KPI_CTE + report_ops.sql_kpi_anomaly_select())
def q_kpi_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier flags per endpoint-day — the adaptive
    extension of the reference's fixed umbral_p90 alert."""
    return report_ops.kpi_anomaly_days(kpi_ops.kpi_daily(_events_clean_log(spark, sf_dir)))


@register("kpi_rollup", _LOG_CTES + report_ops.sql_kpi_rollup_select())
def q_kpi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS fusion of daily/endpoint/global levels in one pass."""
    return report_ops.kpi_rollup(_events_clean_log(spark, sf_dir))


# --- Analytics extensions over the TPC-H-ish tables (SURVEY §2.6, §7 step 6) ---

_ANALYTICS = [
    ("pricing_summary", analytics.pricing_summary, analytics.SQL_PRICING_SUMMARY),
    ("top_revenue_orders", analytics.top_revenue_orders, analytics.SQL_TOP_REVENUE_ORDERS),
    ("region_revenue", analytics.region_revenue, analytics.SQL_REGION_REVENUE),
    ("customers_with_open_orders", analytics.customers_with_open_orders, analytics.SQL_CUSTOMERS_WITH_OPEN_ORDERS),
    ("customers_without_orders", analytics.customers_without_orders, analytics.SQL_CUSTOMERS_WITHOUT_ORDERS),
    ("top_orders_per_customer", analytics.top_orders_per_customer, analytics.SQL_TOP_ORDERS_PER_CUSTOMER),
    ("supplier_running_revenue", analytics.supplier_running_revenue, analytics.SQL_SUPPLIER_RUNNING_REVENUE),
    ("nation_presence", analytics.nation_presence, analytics.SQL_NATION_PRESENCE),
    ("orders_cube", analytics.orders_cube, analytics.SQL_ORDERS_CUBE),
    ("events_daily_pivot", analytics.events_daily_pivot, analytics.SQL_EVENTS_DAILY_PIVOT),
    ("sessionize_events", analytics.sessionize_events, analytics.SQL_SESSIONIZE_EVENTS),
    ("purchase_after_view_asof", analytics.purchase_after_view_asof, analytics.SQL_PURCHASE_AFTER_VIEW_ASOF),
    ("shipped_within_30_days", analytics.shipped_within_30_days, analytics.SQL_SHIPPED_WITHIN_30_DAYS),
    ("events_json_stats", analytics.events_json_stats, analytics.SQL_EVENTS_JSON_STATS),
    ("events_distinct_users", analytics.events_distinct_users, analytics.SQL_EVENTS_DISTINCT_USERS),
    ("small_quantity_revenue", analytics.small_quantity_revenue, analytics.SQL_SMALL_QUANTITY_REVENUE),
    ("supplier_trailing_revenue", analytics.supplier_trailing_revenue, analytics.SQL_SUPPLIER_TRAILING_REVENUE),
    ("latest_event_per_user", analytics.latest_event_per_user, analytics.SQL_LATEST_EVENT_PER_USER),
    ("user_daily_gapfill", analytics.user_daily_gapfill, analytics.SQL_USER_DAILY_GAPFILL),
    ("top_supplier_per_quarter", analytics.top_supplier_per_quarter, analytics.SQL_TOP_SUPPLIER_PER_QUARTER),
    ("high_balance_idle_customers", analytics.high_balance_idle_customers, analytics.SQL_HIGH_BALANCE_IDLE_CUSTOMERS),
    ("stratified_event_sample", analytics.stratified_event_sample, analytics.SQL_STRATIFIED_EVENT_SAMPLE),
    ("customer_value_deciles", analytics.customer_value_deciles, analytics.SQL_CUSTOMER_VALUE_DECILES),
    ("events_hourly_window", analytics.events_hourly_window, analytics.SQL_EVENTS_HOURLY_WINDOW),
    ("event_value_by_type_salted", analytics.event_value_by_type_salted, analytics.SQL_EVENT_VALUE_BY_TYPE_SALTED),
    ("purchases_near_views_range", analytics.purchases_near_views_range, analytics.SQL_PURCHASES_NEAR_VIEWS_RANGE),
    ("snapshot_merge", analytics.snapshot_merge, analytics.SQL_SNAPSHOT_MERGE),
    ("user_retention_cohorts", analytics.user_retention_cohorts, analytics.SQL_USER_RETENTION_COHORTS),
    ("event_funnel", analytics.event_funnel, analytics.SQL_EVENT_FUNNEL),
    ("suppliers_blocking_orders", analytics.suppliers_blocking_orders, analytics.SQL_SUPPLIERS_BLOCKING_ORDERS),
    ("rolling_active_users", analytics.rolling_active_users, analytics.SQL_ROLLING_ACTIVE_USERS),
]

_LLM_EXTRA = [
    ("audio_decode_stats", multimodal.audio_decode_stats, multimodal.SQL_AUDIO_DECODE_STATS),
    # round 14: q-gram-blocked banded-Levenshtein near-dup tier
    ("dedup_edit_distance", dedup.dedup_edit_distance, dedup.SQL_DEDUP_EDIT_DISTANCE),
    # round 14: integer-exact cross-source token-rate drift monitor
    ("token_drift", textops.token_drift, textops.SQL_TOKEN_DRIFT),
    # round 14: sparse lexical k-NN over the shingle inverted index
    ("sparse_doc_knn", textops.sparse_doc_knn, textops.SQL_SPARSE_DOC_KNN),
    # round 15 (verdict item 7): WAND-style pruned serving tier — each
    # doc keeps its TOP_R highest-IDF postings — plus its measured
    # recall gate, mirroring the exact/approx ladder every other
    # similarity family carries
    ("sparse_doc_knn_approx", textops.sparse_doc_knn_approx, textops.SQL_SPARSE_DOC_KNN_APPROX),
    ("sparse_doc_knn_recall", textops.sparse_doc_knn_recall, textops.SQL_SPARSE_DOC_KNN_RECALL),
]
_ANALYTICS.extend(_LLM_EXTRA)

for _name, _fn, _sql in _ANALYTICS:
    QUERIES[_name] = _fn
    ORACLES[_name] = _sql


# --- LLM-data-pipeline operators: dedup / similarity / text / multimodal ----

_LLM_PIPELINE = [
    ("dedup_exact", dedup.dedup_exact, dedup.SQL_DEDUP_EXACT),
    ("dedup_minhash_lsh", dedup.dedup_minhash_lsh, dedup.SQL_DEDUP_MINHASH_LSH),
    ("dedup_simhash", dedup.dedup_simhash, dedup.SQL_DEDUP_SIMHASH),
    ("dedup_ngram_jaccard", dedup.dedup_ngram_jaccard, dedup.SQL_DEDUP_NGRAM_JACCARD),
    ("dedup_components", dedup.dedup_components, dedup.SQL_DEDUP_COMPONENTS),
    ("dedup_embedding_cosine", similarity.dedup_embedding_cosine, similarity.SQL_DEDUP_EMBEDDING_COSINE),
    ("ann_cosine_topk", similarity.ann_cosine_topk, similarity.SQL_ANN_COSINE_TOPK),
    ("lsh_bucket_histogram", similarity.lsh_bucket_histogram, similarity.SQL_LSH_BUCKET_HISTOGRAM),
    ("ann_ivf_topk", similarity.ann_ivf_topk, similarity.SQL_ANN_IVF_TOPK),
    ("ivf_cell_profile", similarity.ivf_cell_profile, similarity.SQL_IVF_CELL_PROFILE),
    ("ann_lsh_topk", similarity.ann_lsh_topk, similarity.SQL_ANN_LSH_TOPK),
    ("ann_ivf_recall", similarity.ann_ivf_recall, similarity.SQL_ANN_IVF_RECALL),
    ("ann_lsh_recall", similarity.ann_lsh_recall, similarity.SQL_ANN_LSH_RECALL),
    ("embedding_centroids", similarity.embedding_centroids, similarity.SQL_EMBEDDING_CENTROIDS),
    ("text_stats", textops.text_stats, textops.SQL_TEXT_STATS),
    ("token_counts", textops.token_counts, textops.SQL_TOKEN_COUNTS),
    ("lang_id", textops.lang_id, textops.SQL_LANG_ID),
    ("doc_fingerprint", textops.doc_fingerprint, textops.SQL_DOC_FINGERPRINT),
    ("tfidf_top_terms", textops.tfidf_top_terms, textops.SQL_TFIDF_TOP_TERMS),
    ("corpus_mix", textops.corpus_mix, textops.SQL_CORPUS_MIX),
    ("multimodal_meta", multimodal.multimodal_meta, multimodal.SQL_MULTIMODAL_META),
    ("multimodal_frame_sample", multimodal.multimodal_frame_sample, multimodal.SQL_MULTIMODAL_FRAME_SAMPLE),
    ("pii_scrub", curation.pii_scrub, curation.SQL_PII_SCRUB),
    ("contamination_check", curation.contamination_check, curation.SQL_CONTAMINATION_CHECK),
    ("quality_gate", curation.quality_gate, curation.SQL_QUALITY_GATE),
    ("kmeans_embeddings", similarity.kmeans_embeddings, similarity.SQL_KMEANS_EMBEDDINGS),
    ("vocab_topk", corpus.vocab_topk, corpus.SQL_VOCAB_TOPK),
    ("repetition_score", corpus.repetition_score, corpus.SQL_REPETITION_SCORE),
    ("sequence_pack", corpus.sequence_pack, corpus.SQL_SEQUENCE_PACK),
    ("dedup_containment", dedup.dedup_containment, dedup.SQL_DEDUP_CONTAINMENT),
    ("corpus_length_profile", corpus.corpus_length_profile, corpus.SQL_CORPUS_LENGTH_PROFILE),
    ("curation_pipeline", curation.curation_pipeline, curation.SQL_CURATION_PIPELINE),
    ("tokenize_ids", corpus.tokenize_ids, corpus.SQL_TOKENIZE_IDS),
    ("embedding_center_by_label", similarity.embedding_center_by_label, similarity.SQL_EMBEDDING_CENTER_BY_LABEL),
    ("sequence_pack_manifest", corpus.sequence_pack_manifest, corpus.SQL_SEQUENCE_PACK_MANIFEST),
    ("dedup_incremental", dedup.dedup_incremental, dedup.SQL_DEDUP_INCREMENTAL),
    ("dedup_semantic", similarity.dedup_semantic, similarity.SQL_DEDUP_SEMANTIC),
    ("dedup_lines", dedup.dedup_lines, dedup.SQL_DEDUP_LINES),
    ("quality_score", curation.quality_score, curation.SQL_QUALITY_SCORE),
    ("sequence_pack_ids", corpus.sequence_pack_ids, corpus.SQL_SEQUENCE_PACK_IDS),
    ("dedup_substring", dedup.dedup_substring, dedup.SQL_DEDUP_SUBSTRING),
    ("ann_ivf_learned_topk", similarity.ann_ivf_learned_topk, similarity.SQL_ANN_IVF_LEARNED_TOPK),
    ("ann_ivf_learned_recall", similarity.ann_ivf_learned_recall, similarity.SQL_ANN_IVF_LEARNED_RECALL),
    ("bpe_pair_counts", corpus.bpe_pair_counts, corpus.SQL_BPE_PAIR_COUNTS),
    ("domain_mixture_plan", corpus.domain_mixture_plan, corpus.SQL_DOMAIN_MIXTURE_PLAN),
    ("dedup_survivors", curation.dedup_survivors, curation.SQL_DEDUP_SURVIVORS),
    ("source_overlap_matrix", textops.source_overlap_matrix, textops.SQL_SOURCE_OVERLAP_MATRIX),
    ("doc_commonness", textops.doc_commonness, textops.SQL_DOC_COMMONNESS),
    ("duplicate_rate_by_source", dedup.duplicate_rate_by_source, dedup.SQL_DUPLICATE_RATE_BY_SOURCE),
    ("dedup_cluster_sizes", dedup.dedup_cluster_sizes, dedup.SQL_DEDUP_CLUSTER_SIZES),
    ("pii_stats_by_source", curation.pii_stats_by_source, curation.SQL_PII_STATS_BY_SOURCE),
    ("lang_confusion", textops.lang_confusion, textops.SQL_LANG_CONFUSION),
    ("image_decode_stats", multimodal.image_decode_stats, multimodal.SQL_IMAGE_DECODE_STATS),
    ("dedup_lsh_capped", dedup.dedup_lsh_capped, dedup.SQL_DEDUP_LSH_CAPPED),
    ("dedup_lsh_cap_audit", dedup.dedup_lsh_cap_audit, dedup.SQL_DEDUP_LSH_CAP_AUDIT),
    ("embedding_pca_top", similarity.embedding_pca_top, similarity.SQL_EMBEDDING_PCA_TOP),
    ("ann_pq_topk", similarity.ann_pq_topk, similarity.SQL_ANN_PQ_TOPK),
    ("ann_pq_rerank", similarity.ann_pq_rerank, similarity.SQL_ANN_PQ_RERANK),
    ("ann_pq_recall", similarity.ann_pq_recall, similarity.SQL_ANN_PQ_RECALL),
    ("ann_pq_rerank_recall", similarity.ann_pq_rerank_recall, similarity.SQL_ANN_PQ_RERANK_RECALL),
    ("minhash_calibration", dedup.minhash_calibration, dedup.SQL_MINHASH_CALIBRATION),
    ("dedup_lsh_recall", dedup.dedup_lsh_recall, dedup.SQL_DEDUP_LSH_RECALL),
    ("dedup_jaccard_prefix", dedup.dedup_jaccard_prefix, dedup.SQL_DEDUP_JACCARD_PREFIX),
    ("corpus_sample_per_source", corpus.corpus_sample_per_source, corpus.SQL_CORPUS_SAMPLE_PER_SOURCE),
    ("pq_quantization_error", similarity.pq_quantization_error, similarity.SQL_PQ_QUANTIZATION_ERROR),
    ("ann_ivfpq_topk", similarity.ann_ivfpq_topk, similarity.SQL_ANN_IVFPQ_TOPK),
    ("ann_ivfpq_recall", similarity.ann_ivfpq_recall, similarity.SQL_ANN_IVFPQ_RECALL),
    ("ann_ivfpq_rerank", similarity.ann_ivfpq_rerank, similarity.SQL_ANN_IVFPQ_RERANK),
    ("ann_ivfpq_rerank_recall", similarity.ann_ivfpq_rerank_recall, similarity.SQL_ANN_IVFPQ_RERANK_RECALL),
    ("corpus_split", corpus.corpus_split, corpus.SQL_CORPUS_SPLIT),
    ("corpus_split_stats", corpus.corpus_split_stats, corpus.SQL_CORPUS_SPLIT_STATS),
    ("lm_bigram_score", corpus.lm_bigram_score, corpus.SQL_LM_BIGRAM_SCORE),
    ("embedding_outliers", similarity.embedding_outliers, similarity.SQL_EMBEDDING_OUTLIERS),
    ("shingle_df_profile", dedup.shingle_df_profile, dedup.SQL_SHINGLE_DF_PROFILE),
    ("contamination_bloom", curation.contamination_bloom, curation.SQL_CONTAMINATION_BLOOM),
    ("split_leakage_check", corpus.split_leakage_check, corpus.SQL_SPLIT_LEAKAGE_CHECK),
    ("lm_bigram_score_pruned", corpus.lm_bigram_score_pruned, corpus.SQL_LM_BIGRAM_SCORE_PRUNED),
    ("dsir_importance", corpus.dsir_importance, corpus.SQL_DSIR_IMPORTANCE),
    ("ann_filtered_topk", similarity.ann_filtered_topk, similarity.SQL_ANN_FILTERED_TOPK),
    ("ann_filtered_learned_topk", similarity.ann_filtered_learned_topk, similarity.SQL_ANN_FILTERED_LEARNED_TOPK),
    ("ann_filtered_recall", similarity.ann_filtered_recall, similarity.SQL_ANN_FILTERED_RECALL),
    ("ann_filtered_learned_recall", similarity.ann_filtered_learned_recall, similarity.SQL_ANN_FILTERED_LEARNED_RECALL),
    ("dsir_resample_plan", corpus.dsir_resample_plan, corpus.SQL_DSIR_RESAMPLE_PLAN),
    ("dsir_sample", corpus.dsir_sample, corpus.SQL_DSIR_SAMPLE),
    ("sequence_pack_ffd", corpus.sequence_pack_ffd, corpus.SQL_SEQUENCE_PACK_FFD),
    ("training_order", corpus.training_order, corpus.SQL_TRAINING_ORDER),
    ("sequence_pack_greedy", corpus.sequence_pack_greedy, corpus.SQL_SEQUENCE_PACK_GREEDY),
    ("contamination_stats_by_source", curation.contamination_stats_by_source, curation.SQL_CONTAMINATION_STATS_BY_SOURCE),
    ("dedup_image_phash", multimodal.dedup_image_phash, multimodal.SQL_DEDUP_IMAGE_PHASH),
    ("image_phash_band_audit", multimodal.image_phash_band_audit, multimodal.SQL_IMAGE_PHASH_BAND_AUDIT),
    ("bpe_train_merges", corpus.bpe_train_merges, corpus.SQL_BPE_TRAIN_MERGES),
    ("bpe_tokenize", corpus.bpe_tokenize, corpus.SQL_BPE_TOKENIZE),
    ("hybrid_doc_topk", textops.hybrid_doc_topk, textops._sql_hybrid_topk()),
    ("hybrid_doc_recall", textops.hybrid_doc_recall, textops._sql_hybrid_recall()),
    ("quality_train", curation.quality_train, curation.SQL_QUALITY_TRAIN),
    ("quality_gate_learned", curation.quality_gate_learned, curation.SQL_QUALITY_GATE_LEARNED),
    ("hybrid_doc_lexical_recall", textops.hybrid_doc_lexical_recall, textops._sql_hybrid_lexical_recall()),
    ("dedup_audio_fingerprint", multimodal.dedup_audio_fingerprint, multimodal.SQL_DEDUP_AUDIO_FINGERPRINT),
    ("multimodal_dup_consensus", multimodal.multimodal_dup_consensus, multimodal.SQL_MULTIMODAL_DUP_CONSENSUS),
    ("dedup_video_frames", multimodal.dedup_video_frames, multimodal.SQL_DEDUP_VIDEO_FRAMES),
    ("dedup_video_cap_audit", multimodal.dedup_video_cap_audit, multimodal.SQL_DEDUP_VIDEO_CAP_AUDIT),
    ("dedup_video_recall", multimodal.dedup_video_recall, multimodal.SQL_DEDUP_VIDEO_RECALL),
    ("audio_fp_band_audit", multimodal.audio_fp_band_audit, multimodal.SQL_AUDIO_FP_BAND_AUDIT),
    ("sequence_pack_bpe_ids", corpus.sequence_pack_bpe_ids, corpus.SQL_SEQUENCE_PACK_BPE_IDS),
    ("bpe_fertility_by_source", corpus.bpe_fertility_by_source, corpus.SQL_BPE_FERTILITY_BY_SOURCE),
    ("corpus_build_funnel", curation.corpus_build_funnel, curation.SQL_CORPUS_BUILD_FUNNEL),
]

for _name, _fn, _sql in _LLM_PIPELINE:
    QUERIES[_name] = _fn
    ORACLES[_name] = _sql


# --- bounded-error sketch tiers (round-14 verdict item 4) --------------------
# Sketch VALUES are engine-specific (DuckDB's approx_quantile /
# approx_count_distinct are different sketches), so these queries emit
# only engine-portable columns — group keys, exact counterparts, and a
# boolean verdict that the sketch landed within its PUBLISHED error
# contract — which the DuckDB twin asserts TRUE. The sketch runs
# Spark-side inside the plan; an out-of-contract sketch hash-mismatches
# (false vs TRUE) instead of passing silently.

HLL_RSD = 0.02  # approx_count_distinct relative standard deviation
# acceptance bound in sigmas of the published rsd: HLL++'s rsd is the
# standard error of the estimate; 3 sigma + 2 absolute (tiny-cardinality
# slack) is far outside any plausible deviation (measured 0.0-0.2 sigma
# at sf0.01/sf0.1) while still failing on a broken sketch
HLL_BOUND_SIGMAS = 3.0


@register(
    "kpi_daily_approx_p90",
    _LOG_CTES + kpi_ops.sql_kpi_daily_p90_bound(),
)
def q_kpi_daily_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 at the 100 TB tier: percentile_approx (mergeable KLL-style
    sketch, bounded memory) instead of the exact sort-based percentile —
    certified against the sketch's published rank-error contract
    (eps = 1/accuracy); see kpi_ops.kpi_daily_p90_bound."""
    return kpi_ops.kpi_daily_p90_bound(_events_clean_log(spark, sf_dir))


@register(
    "events_distinct_users_approx",
    """
SELECT event_type,
  count(*) AS n_events,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  TRUE AS hll_in_bound
FROM events
GROUP BY event_type
ORDER BY event_type""",
)
def q_events_distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB tier of events_distinct_users: approx_count_distinct
    (HyperLogLog++, bounded memory, mergeable across partitions) instead
    of the exact distinct, which shuffles every distinct key. Certified
    against the sketch's published error contract: rsd is the standard
    error of the HLL++ estimate, so |approx - exact| must be within
    HLL_BOUND_SIGMAS * rsd * exact (+2 absolute for tiny cardinalities).
    The estimate itself is deterministic for a fixed dataset (hash-based,
    no RNG), so the verdict is stable across runs; the exact count rides
    along and is hash-certified against DuckDB.

    PRODUCTION SERVES THE SKETCH ALONE (round-15 ADVICE): at 100 TB the
    query is groupBy + approx_count_distinct — bounded memory, no
    distinct shuffle. The exact count_distinct in THIS registered plan
    exists only because this is the gate-scale CERTIFICATION of the
    sketch's error contract — the exact counterpart is the yardstick the
    boolean is checked against, exactly as kpi_daily_p90_bound's rank
    interval is (see its docstring). The scale_check flagship entry
    therefore measures the certification plan, not the serving plan;
    the serving plan's scale behavior is the plain events_distinct_users
    aggregate minus its expand-based distinct."""
    from pyspark.sql import functions as F

    approx = F.approx_count_distinct("user_id", rsd=HLL_RSD)
    exact = F.count_distinct(F.col("user_id"))
    in_bound = (
        F.abs(approx.cast("double") - exact.cast("double"))
        <= F.lit(HLL_BOUND_SIGMAS * HLL_RSD) * exact.cast("double") + F.lit(2.0)
    )
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact.alias("n_users"),
            in_bound.alias("hll_in_bound"),
        )
        .orderBy("event_type")
    )


@register(
    "customer_value_deciles_approx",
    analytics.SQL_CUSTOMER_VALUE_DECILES_APPROX,
)
def q_customer_value_deciles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB tier of customer_value_deciles: sketch cut points
    applied map-side instead of a global ntile sort — certified against
    the cut points' published rank-error contract (bucket deviation
    <= 2*(eps*N + max_tie + 1)); see analytics.customer_value_deciles_approx."""
    return analytics.customer_value_deciles_approx(spark, sf_dir)


# --- Structured Streaming replays: one spec row per stream ------------------
# Every row replays through streaming/runner.replay: stage the source
# projection as JSONL, build the frozen state, drain the stream module's
# runner, read back the certified columns. The comment above each row
# says why its replay certifies against the oracle it carries.

STREAMS: dict[str, StreamSpec] = {}


def _stream(name: str, oracle: str, spec: StreamSpec) -> None:
    STREAMS[name] = spec
    register(name, oracle)(partial(replay, spec=spec))


def _doc_text(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", "text")


def _probe_arrivals(docs: DataFrame) -> DataFrame:
    """The image/audio/video arrival set: whole families (base % 5 == 0 —
    no index side, the novel branch) plus singleton strides whose
    families stay indexed (the exact/near branches)."""
    return docs.filter(F.expr(multimodal.SPARK_PH_PROBE_COND)).select("doc_id")


def _lsh_corpus_index(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """The persisted LSH index over dedup_incremental's corpus side, in
    bucketed catalog tables named by the staging tag, so a rewritten
    dataset rebuilds instead of silently probing stale state."""
    from .plans.lsh_index import build_lsh_index

    return ensure_index(
        spark,
        prefix,
        ("digests", "bands", "shingles"),
        lambda p: build_lsh_index(
            dedup.docs_normalized(spark, sf_dir).filter(F.col("doc_id") % dedup.INCREMENTAL_STRIDE != 0),
            prefix=p,
        ),
    )


def _phash_index(sigs: Callable[[SparkSession, str], DataFrame]):
    """Frozen banded signature index: the trained signatures minus the
    arrival set."""
    return lambda spark, sf_dir, tag: {
        "index_bands": multimodal._phash_bands(
            sigs(spark, sf_dir).filter(~F.expr(multimodal.SPARK_PH_PROBE_COND))
        )
    }


def _video_index(spark: SparkSession, sf_dir: str, tag: str) -> dict:
    # eagerly checkpointed before the stream starts, so per-batch probes
    # read pinned blocks and never re-derive the distinct
    fhd = (
        multimodal._video_fhd(spark, sf_dir)
        .filter(~F.expr(multimodal.SPARK_PH_PROBE_COND))
        .localCheckpoint(eager=True)
    )
    sizes = fhd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return {"index_fhd": fhd, "index_sizes": sizes}


def _ann_index(spark: SparkSession, sf_dir: str, tag: str) -> dict:
    from .functions import cachepool
    from .plans import pq_index

    def build(prefix: str) -> None:
        emb = cachepool.managed_persist(similarity._quantized(spark, sf_dir))
        # the SAME trained quantizer the batch IVF-PQ tiers serve — a
        # store hit when any ann_* query trained it first (bench runs
        # streams last), one shared train otherwise
        pq_index.build_pq_index(emb, prefix=prefix, cents=similarity._coarse_centroids(spark, sf_dir, emb))

    return {"prefix": ensure_index(spark, f"annpqix_{tag}", pq_index._TABLES, build)}


def _dsir_state(spark: SparkSession, sf_dir: str, tag: str) -> dict:
    # the model is a snapshot-keyed trained artifact (checkpointed —
    # every micro-batch joins pinned blocks); totals derive from it
    model = corpus.dsir_model(spark, sf_dir)
    return {"model": model, "totals": corpus.dsir_totals(model)}


def _ttl_delay(spark: SparkSession, sf_dir: str, tag: str) -> dict:
    max_id = load_table(spark, sf_dir, "documents").selectExpr("max(doc_id)").first()[0]
    if max_id is None:  # an empty/misstaged snapshot: int(None) would
        # raise a bare TypeError two frames deep
        raise ValueError(
            f"dedup_stream_ttl: documents table at {sf_dir} is empty — "
            "cannot derive the no-eviction TTL delay from max(doc_id)"
        )
    return {"delay": f"{int(max_id) + 2 * 86400} seconds"}


def _ingest_gate_state(spark: SparkSession, sf_dir: str, tag: str) -> dict:
    prefix = _lsh_corpus_index(spark, sf_dir, f"ingateix_{tag}")
    bf_row, probes, m_log2 = curation.bloom_trained_state(spark, sf_dir)
    return {
        "index_prefix": prefix,
        "bf_row": bf_row,
        # eager checkpoint: the stream drains the cachepool per batch, and
        # a drained lazy probe relation would re-derive its corpus scan
        # every micro-batch; checkpointed blocks are drain-proof
        "probes": probes.localCheckpoint(eager=True),
        "m_log2": m_log2,
        "merges": corpus.bpe_merge_list(spark, sf_dir),
    }


# The KPI pipeline as Structured Streaming (SURVEY §7 step 7): dirty log
# -> JSONL files -> event-time 1-day windows + watermark -> A1-A8 with
# approx p90. Finite input driven to completion with availableNow.
# Oracle (round 6): the finite replay's exact columns are byte-equal to
# the batch kpi_daily (integer partial sums + cents fixed-point avg are
# mergeable across micro-batches, asserted by tests/test_streaming.py),
# so the batch oracle SQL certifies them; the sketch p90 column is
# projected out of the certified surface (its VALUE is engine-specific;
# the batch tier kpi_daily_approx_p90 certifies the sketch's rank-error
# CONTRACT instead — the stream does not pay that per-micro-batch rank
# join).
_stream(
    "kpi_daily_stream",
    _LOG_CTES + kpi_ops.sql_kpi_daily_select(include_p90=False),
    StreamSpec(
        kind="kpi_stream_in",
        source="events",
        stage=synthetic.http_log_from_events,
        coalesce=True,
        run=KS.run_to_memory,
        memory_sink=True,
        columns=(
            "date_utc",
            "endpoint_base",
            "requests_total",
            "success_2xx",
            "client_4xx",
            "server_5xx",
            "parse_errors",
            "avg_elapsed_ms",
        ),
    ),
)


def _sql_sessionize_stream_oracle() -> str:
    """Batch sessionization minus each user's LAST session, 0-based seq —
    exactly the closed-session set a finite single-batch replay emits
    (see the sessionize_stream row)."""
    from .functions.portable import sql_roundn
    from .operators.analytics import SESSION_GAP_MIN

    return f"""
WITH gaps AS (
  SELECT user_id, event_id, ts,
         epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
  FROM events
),
sess AS (
  SELECT user_id, ts,
         sum(CASE WHEN gap_s IS NULL OR gap_s > {SESSION_GAP_MIN * 60} THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM gaps
),
agg AS (
  SELECT user_id, session_seq, count(*) AS n_events,
         {sql_roundn('max(epoch(ts)) - min(epoch(ts))', 3)} AS duration_s
  FROM sess GROUP BY user_id, session_seq
),
mx AS (SELECT user_id, max(session_seq) AS mseq FROM agg GROUP BY user_id)
SELECT a.user_id, CAST(a.session_seq - 1 AS BIGINT) AS session_seq, a.n_events, a.duration_s
FROM agg a JOIN mx ON a.user_id = mx.user_id
WHERE a.session_seq < mx.mseq
ORDER BY a.user_id, session_seq"""


# Custom stateful streaming operator (applyInPandasWithState): gap
# sessionization of the events table replayed as a file stream.
# Oracle (round 7): the replay is staged as ONE file, so availableNow
# processes it in a single micro-batch; the handler sorts the batch by
# event time and closes sessions data-driven (a later-than-gap event
# closes its predecessor), leaving exactly each user's LAST session open
# in state. The emitted set is therefore deterministic — the batch
# sessionization minus each user's final session — and the driver check
# upgrades from rows-only to rows+schema+hash on the deterministic
# columns (the stream's raw float total_value is summed in arrival
# order, so it is projected out of the certified surface, like the
# sketch p90 in kpi_daily_stream; duration re-rounds with the batch
# operator's portable roundn). CROSS-batch state transitions stay
# exercised by tests/test_sessionize_stream.py, which replays one file
# per trigger.
_stream(
    "sessionize_stream",
    _sql_sessionize_stream_oracle(),
    StreamSpec(
        kind="sess_stream_in",
        source="events",
        stage=lambda events: events.select("user_id", F.col("ts").cast("double").alias("ts_s"), "value"),
        files=1,
        coalesce=True,
        run=partial(SS.run_files_to_memory, one_file_per_batch=False),
        memory_sink=True,
        columns=("user_id", "session_seq", "n_events", "duration_s"),
        rounded=("duration_s",),
        order=("user_id", "session_seq"),
    ),
)


_SQL_DIGEST_SET = f"""
WITH {dedup.DUCK_DOCS_CTE}
SELECT DISTINCT md5(norm) AS norm_md5
FROM sh_t
ORDER BY norm_md5"""

# Streaming exact dedup (dropDuplicates state store): the documents
# table replayed as a multi-batch file stream, one output row per
# distinct normalized-text digest (first occurrence wins). Oracle (round
# 6): WHICH doc_id survives depends on batch order (a streaming-only
# notion — tests/test_dedup_stream.py asserts the cross-batch
# suppression semantics), but the surviving DIGEST SET is deterministic
# and equals the batch dedup_exact group keys, so the certified
# projection is the digest column and the driver check upgrades from
# rows-only to rows+schema+hash.
_stream(
    "dedup_stream",
    _SQL_DIGEST_SET,
    StreamSpec(
        kind="dedup_stream_in",
        source="documents",
        stage=_doc_text,
        run=DS.run_files_to_memory,
        memory_sink=True,
        columns=("norm_md5",),
    ),
)

# BOUNDED-STATE streaming dedup (dropDuplicatesWithinWatermark): the
# 100 TB retention answer to dedup_stream's exact-global state store —
# digests are held only within the event-time dedup horizon, so state is
# O(|digests in window|) regardless of how long the stream has run
# (tests/test_dedup_stream.py measures the eviction via
# stateOperators.numRowsTotal). For the certified replay the delay
# DERIVES FROM THE DATA (a fixed constant merely assumed the span stayed
# under it): event times are synthesized as doc_id + 86400 seconds, so a
# delay of max(doc_id) + 2*86400 seconds exceeds the replay's event-time
# span for ANY corpus snapshot by construction — nothing is evicted and
# the emitted digest set deterministically equals the batch dedup_exact
# group keys — the same certified projection and oracle as dedup_stream;
# which doc_id survives stays a batch-order streaming-only notion. (The
# no-eviction precondition is thereby checked, not assumed; the
# bounded-state behavior under a SHORT horizon is what
# tests/test_dedup_stream.py exercises.)
_stream(
    "dedup_stream_ttl",
    _SQL_DIGEST_SET,
    StreamSpec(
        kind="dedup_ttl_in",
        source="documents",
        stage=_doc_text,
        frozen=_ttl_delay,
        run=lambda spark, path, **kw: DS.run_files_to_memory_ttl(spark, path, **kw)[0],
        memory_sink=True,
        columns=("norm_md5",),
    ),
)

# Streaming quality gate with foreachBatch quarantine multi-sink
# (streaming/quality_stream.py): the documents table replayed as a file
# stream, each micro-batch scored with the batch gate's rules and split
# into kept/quarantine layers with idempotent per-batch overwrite.
# Oracle (round 6): with the streaming-only batch_id column dropped, the
# per-doc decisions are byte-equal to the batch quality_gate (asserted
# by tests/test_quality_stream.py), so the batch gate's oracle SQL
# certifies the stream's full output.
_stream(
    "quality_gate_stream",
    curation.SQL_QUALITY_GATE,
    StreamSpec(
        kind="quality_stream_in",
        source="documents",
        stage=lambda docs: docs.select("doc_id", "text", "lang", "source"),
        run=QS.run_quality_quarantine,
        columns=("doc_id", "source", "lang", "decision", "reason"),
    ),
)

# Streaming probe of the PERSISTED LSH dedup index — the production
# crawler-ingest loop (streaming/index_probe_stream.py): the index side
# of dedup_incremental's corpus is built once into bucketed catalog
# tables (keyed by the staging tag, so a rewritten dataset rebuilds
# instead of silently probing stale state), and the incoming side
# replays as a file stream whose every micro-batch is probed via
# plans/lsh_index.probe_lsh_index.
# Oracle: verdicts reference only the index, never other in-flight docs,
# so the union over micro-batches equals probing the whole incoming set
# at once — which is exactly dedup_incremental. Its batch oracle SQL
# therefore certifies the stream's full output (rows+schema+hash), the
# strongest check a stream can carry.
_stream(
    "dedup_index_probe_stream",
    dedup.SQL_DEDUP_INCREMENTAL,
    StreamSpec(
        kind="index_probe_in",
        source="documents",
        stage=lambda docs: _doc_text(docs.filter(F.col("doc_id") % dedup.INCREMENTAL_STRIDE == 0)),
        frozen=lambda spark, sf_dir, tag: {
            "index_prefix": _lsh_corpus_index(spark, sf_dir, f"probeix_{tag}")
        },
        run=IPS.run_index_probe,
        columns=("doc_id", "verdict", "n_near_candidates"),
        order=("doc_id",),
    ),
)

# Streaming bigram-LM quality gate (streaming/lm_stream.py): the model
# is trained once from the batch-side train slice (corpus.lm_trained_model
# — the same frames the batch filter uses; snapshot-keyed trained
# artifacts, checkpointed, so every micro-batch joins pinned blocks),
# the held slice replays as a file stream, and every micro-batch is
# scored through corpus.lm_score_docs verbatim.
# Oracle: scores reference only the frozen model, never other in-flight
# docs, so the union over micro-batches equals scoring the whole held
# set at once — which is exactly lm_bigram_score. Its batch oracle SQL
# certifies the stream's full output (rows+schema+hash), the strongest
# check a stream can carry; only emission timing is a streaming-only
# notion.
_stream(
    "lm_score_stream",
    corpus.SQL_LM_BIGRAM_SCORE,
    StreamSpec(
        kind="lm_score_in",
        source="documents",
        stage=lambda docs: _doc_text(docs.filter(F.col("doc_id") % corpus.LM_HELD_STRIDE == 0)),
        frozen=lambda spark, sf_dir, tag: dict(
            zip(("c12", "c1", "vocab"), corpus.lm_trained_model(spark, sf_dir))
        ),
        run=LMS.run_lm_score,
        columns=("doc_id", "n_bigrams", "n_oov_bigrams", "avg_bits"),
        order=("doc_id",),
    ),
)


def _dsir_raw(docs: DataFrame) -> DataFrame:
    return _doc_text(docs.filter(~F.col("source").isin(*corpus.DSIR_TARGET_SOURCES)))


# Streaming DSIR importance gate (streaming/dsir_stream.py): the B-row
# hashed-n-gram importance model is the snapshot-keyed trained artifact
# (corpus.dsir_model — the same frame the batch selector reads), the raw
# (non-target) slice replays as a file stream, and every micro-batch is
# scored through corpus.dsir_score_docs verbatim.
# Oracle: weights reference only the frozen model, never other in-flight
# docs, so the union over micro-batches equals scoring the whole raw
# slice at once — which is exactly dsir_importance. Its batch oracle SQL
# certifies the stream's full output (rows+schema+hash); only emission
# timing is a streaming-only notion.
_stream(
    "dsir_score_stream",
    corpus.SQL_DSIR_IMPORTANCE,
    StreamSpec(
        kind="dsir_score_in",
        source="documents",
        stage=_dsir_raw,
        frozen=_dsir_state,
        run=DSIR.run_dsir_score,
        columns=("doc_id", "n_feat", "log2_w", "avg_bits"),
        order=("doc_id",),
    ),
)

# Streaming DSIR SELECTION gate (streaming/dsir_stream.py) — the
# eleventh hash-certified stream, closing the score -> plan -> sample
# loop in the ingest path: the B-row model and the per-snapshot
# acceptance plan are snapshot-keyed trained artifacts
# (corpus.dsir_model / dsir_accept_plan — the same frames the batch
# selector reads), the raw slice replays as a file stream (the staged
# input dsir_score_stream replays), and every micro-batch is scored AND
# filtered through corpus.dsir_select_docs verbatim.
# Oracle: weight and keep/drop are per-doc pure functions of frozen
# state, so the union over micro-batches equals batch dsir_sample — its
# oracle SQL certifies the stream's full output (rows+schema+hash); only
# emission timing is a streaming-only notion.
_stream(
    "dsir_sample_stream",
    corpus.SQL_DSIR_SAMPLE,
    StreamSpec(
        kind="dsir_score_in",
        source="documents",
        stage=_dsir_raw,
        frozen=lambda spark, sf_dir, tag: {
            **_dsir_state(spark, sf_dir, tag),
            "plan": corpus.dsir_accept_plan(spark, sf_dir),
        },
        run=DSIR.run_dsir_sample,
        columns=("doc_id", "log2_w", "accept_num"),
        order=("doc_id",),
    ),
)

# Streaming Bloom-prescreened decontamination
# (streaming/contamination_stream.py): the probe-set bitmap + exact
# probe-gram relation are frozen once per snapshot
# (curation.bloom_trained_state — the auto-sized geometry-keyed trained
# artifact the batch operator shares), the corpus slice replays as a
# file stream, and every micro-batch runs curation.bloom_score_docs
# verbatim: grams die against the broadcast bitmap map-side, survivors
# verify against the exact probe relation.
# Oracle: per-doc contamination references only the frozen probe set,
# never other in-flight docs, so the union over micro-batches equals
# checking the whole corpus slice at once — which (prescreen being
# lossless) is exactly contamination_check. Its batch oracle SQL
# certifies the stream's full output (rows+schema+hash), the strongest
# check a stream can carry — the ninth hash-certified stream.
_stream(
    "contamination_bloom_stream",
    curation.SQL_CONTAMINATION_CHECK,
    StreamSpec(
        kind="contamination_in",
        source="documents",
        stage=lambda docs: _doc_text(docs.filter(F.col("doc_id") % curation.PROBE_STRIDE != 0)),
        frozen=lambda spark, sf_dir, tag: dict(
            zip(("bf_row", "probes", "m_log2"), curation.bloom_trained_state(spark, sf_dir))
        ),
        run=CS.run_contamination,
        columns=("doc_id", "n_grams", "n_overlap", "contamination"),
        order=("doc_id",),
    ),
)

# Streaming PII scrub (streaming/pii_stream.py): the corpus replays as a
# file stream and every micro-batch is counted and redacted through
# curation.scrub_pii_docs verbatim — the scrub-at-the-edge position a
# production privacy gate holds, so dirty bytes never land downstream.
# Oracle: counts and redaction are per-document pure functions (no
# trained state, no cross-doc reference), so the union over
# micro-batches equals scrubbing the whole corpus at once — which is
# exactly pii_scrub. Its batch oracle SQL certifies the stream's full
# output (rows+schema+hash), the strongest check a stream can carry —
# the twelfth hash-certified stream.
_stream(
    "pii_scrub_stream",
    curation.SQL_PII_SCRUB,
    StreamSpec(
        kind="pii_scrub_in",
        source="documents",
        stage=_doc_text,
        run=PS.run_pii_scrub,
        columns=("doc_id", "n_emails", "n_phones", "n_ips", "redacted_fp", "n_chars_clean"),
        order=("doc_id",),
    ),
)

# Streaming edit-distance probe against the frozen corpus
# (streaming/edit_probe_stream.py): the snapshot's shingle posting index
# and verify metadata are built once (the same trained artifacts batch
# dedup_edit_distance reads), the corpus replays as a file stream, and
# every micro-batch is probed for Levenshtein near-dup hits with the
# batch tier's lossless blocking sided for streaming (arriving shingles
# join the posting index; arriving short docs join the corpus's
# short-doc length buckets).
# Oracle: hits reference only the frozen corpus state, never other
# in-flight docs, so the union over micro-batches equals probing the
# whole incoming set at once — the SYMMETRIZED dedup_edit_distance pair
# set (each pair seen from both ends, self-pairs excluded).
# SQL_DEDUP_EDIT_PROBE certifies the stream's full output
# (rows+schema+hash) — the thirteenth hash-certified stream.
_stream(
    "dedup_edit_probe_stream",
    dedup.SQL_DEDUP_EDIT_PROBE,
    StreamSpec(
        kind="edit_probe_in",
        source="documents",
        stage=_doc_text,
        frozen=lambda spark, sf_dir, tag: {"sf_dir": sf_dir},
        run=EPS.run_edit_probe,
        columns=("doc_id", "neighbor_id", "len_self", "len_neighbor", "edit_distance"),
        order=("doc_id", "neighbor_id"),
    ),
)

# Streaming perceptual-image probe against the frozen signature index
# (streaming/image_probe_stream.py) — the multimodal tier's
# crawler-ingest loop: the corpus dHash signatures are the trained
# image_phash_sigs artifact minus the arrival set (_probe_arrivals), each
# arriving micro-batch decodes its images for real (the serving decode
# path) and probes the banded index for exact_dup / near_dup / novel —
# all three verdicts fire at the gate scale.
# Oracle: verdicts reference only the frozen index, never other
# in-flight images, so the union over micro-batches equals probing the
# whole arrival set at once — SQL_DEDUP_IMAGE_PROBE_STREAM, the
# FOURTEENTH hash-certified stream.
_stream(
    "dedup_image_probe_stream",
    multimodal.SQL_DEDUP_IMAGE_PROBE_STREAM,
    StreamSpec(
        kind="image_probe_in",
        source="documents",
        stage=_probe_arrivals,
        frozen=_phash_index(multimodal._phash_sigs),
        run=IMG.run_image_probe,
        columns=("doc_id", "verdict", "n_band_candidates", "min_hamming"),
        order=("doc_id",),
    ),
)

# Streaming video-containment probe against the frozen frame-fingerprint
# index (streaming/video_probe_stream.py) — the VIDEO leg completing the
# ingest-probe trifecta: arriving videos walk their containers for real
# (PGM pixel parse -> per-frame dHash, the serving decode path) and
# their distinct frame sets probe the index's inverted (doc_id, fh)
# table for near_dup / novel verdicts at the exact rational containment
# threshold. Arrival set: the image probe's split verbatim (whole
# families -> no index side -> novel; singleton strides -> family stays
# indexed -> near_dup at containment 0.89-0.95).
# Oracle: verdicts reference only the frozen index, never other
# in-flight videos, so the union over micro-batches equals probing the
# whole arrival set at once — SQL_DEDUP_VIDEO_PROBE_STREAM, the
# SIXTEENTH hash-certified stream. The frozen index state (frame table +
# per-video sizes) is eagerly checkpointed before the stream starts, so
# per-batch probes read pinned blocks, never re-derive the distinct.
_stream(
    "dedup_video_probe_stream",
    multimodal.SQL_DEDUP_VIDEO_PROBE_STREAM,
    StreamSpec(
        kind="video_probe_in",
        source="documents",
        stage=_probe_arrivals,
        frozen=_video_index,
        run=VPS.run_video_probe,
        columns=("doc_id", "verdict", "n_candidates", "best_containment"),
        order=("doc_id",),
    ),
)

# Streaming perceptual-AUDIO probe against the frozen envelope signature
# index — the audio leg of the trifecta riding the image probe scaffold:
# the corpus envelope fingerprints are the trained audio_fp_sigs
# artifact minus the arrival set; each arriving micro-batch synthesizes
# and decodes its WAVs for real (RIFF walk -> frame means -> envelope
# dHash, the serving decode path) and probes the banded index for
# exact_dup / near_dup / novel. Arrival set: the image probe's split
# verbatim (whole families with no index side -> novel; singleton
# strides whose families stay indexed -> exact/near).
# Oracle: verdicts reference only the frozen index, never other
# in-flight clips, so the union over micro-batches equals probing the
# whole arrival set at once — SQL_DEDUP_AUDIO_PROBE_STREAM, the
# FIFTEENTH hash-certified stream.
_stream(
    "dedup_audio_probe_stream",
    multimodal.SQL_DEDUP_AUDIO_PROBE_STREAM,
    StreamSpec(
        kind="audio_probe_in",
        source="documents",
        stage=_probe_arrivals,
        frozen=_phash_index(multimodal._audio_fp_sigs),
        run=IMG.run_audio_probe,
        columns=("doc_id", "verdict", "n_band_candidates", "min_hamming"),
        order=("doc_id",),
    ),
)

# Streaming BPE tokenizer application (streaming/bpe_stream.py): the
# merge table is trained once per corpus snapshot (the bpe_merge_table
# artifact — the same frozen state bpe_tokenize serves; the
# BPE_MERGES-row pair list is bounded driver state closed over by the
# per-batch transform), the corpus replays as a document file stream,
# and every micro-batch is segmented by the BPE_MERGES literal replaces
# in rank order — the ingest loop a training-data pipeline runs between
# tokenizer retrains.
# Oracle: segmentations reference only the frozen merge list, never
# other in-flight docs, so the union over micro-batches equals
# tokenizing the whole corpus at once — which is exactly bpe_tokenize.
# Its batch oracle SQL certifies the stream's full output
# (rows+schema+hash — the SEVENTEENTH hash-certified stream); only
# emission timing is a streaming-only notion.
_stream(
    "bpe_tokenize_stream",
    corpus.SQL_BPE_TOKENIZE,
    StreamSpec(
        kind="bpe_tokenize_in",
        source="documents",
        stage=_doc_text,
        frozen=lambda spark, sf_dir, tag: {"merges": corpus.bpe_merge_list(spark, sf_dir)},
        run=BPS.run_bpe_tokenize,
        columns=("doc_id", "n_words", "n_symbols", "symbols_preview"),
        order=("doc_id",),
    ),
)

# Streaming ANN probe of the PERSISTED IVF-PQ code index
# (streaming/ann_probe_stream.py): the two-stage index is built once
# into bucketed catalog tables (trained cents + frozen residual codebook
# + cell-bucketed 40-bit codes + the refine store, keyed by the staging
# tag so a rewritten dataset rebuilds), and the strided query set
# replays as a file stream whose every micro-batch serves top-k through
# the probe kernel — ADC over bucket-pruned codes, then an exact
# re-rank over pruned point lookups.
# Oracle: each query's top-k references only the frozen index, so the
# union over micro-batches equals probing the whole query set at once —
# byte-identical to ann_ivfpq_rerank on the same corpus and quantizer
# (tests/test_pq_index.py pins the one-shot equality). Its batch oracle
# SQL certifies the stream's full output — the EIGHTEENTH hash-certified
# stream.
_stream(
    "ann_ivfpq_probe_stream",
    similarity.SQL_ANN_IVFPQ_RERANK,
    StreamSpec(
        kind="ann_probe_in",
        source="embeddings",
        stage=lambda emb: emb.filter(F.col("vec_id") % similarity.QUERY_STRIDE == 0).select("vec_id"),
        frozen=_ann_index,
        run=APS.run_ann_probe,
        columns=("query_id", "neighbor_id", "rank", "cosine_p1"),
        order=("query_id", "rank"),
    ),
)


def _sql_ingest_gate_stream() -> str:
    """Batch SQL for the composed ingest admission gate: the stage
    oracles (quality CTE, pii, exact contamination, incremental dedup,
    BPE apply) joined per arriving doc. Arrival set = the incremental
    incoming stride minus the benchmark holdout."""
    from .operators.corpus import BPE_MERGES, _sql_bpe_apply_chain, _sql_bpe_cte_chain
    from .operators.curation import (
        SQL_CONTAMINATION_CHECK,
        SQL_PII_SCRUB,
        PROBE_STRIDE,
        sql_quality_cte,
    )
    from .operators.dedup import DUCK_DOCS_CTE, INCREMENTAL_STRIDE, SQL_DEDUP_INCREMENTAL

    arr = f"doc_id % {INCREMENTAL_STRIDE} = 0 AND doc_id % {PROBE_STRIDE} <> 0"
    return f"""
WITH {DUCK_DOCS_CTE},
{sql_quality_cte()},
q AS (SELECT doc_id, reason FROM r WHERE {arr}),
pii AS (
  SELECT doc_id, CAST(n_emails + n_phones + n_ips AS BIGINT) AS n_pii
  FROM ({SQL_PII_SCRUB}) WHERE {arr}
),
cont AS (
  SELECT doc_id FROM ({SQL_CONTAMINATION_CHECK})
  WHERE doc_id % {INCREMENTAL_STRIDE} = 0
),
dd AS (
  SELECT doc_id, verdict FROM ({SQL_DEDUP_INCREMENTAL})
  WHERE doc_id % {PROBE_STRIDE} <> 0
),
{_sql_bpe_cte_chain()},
{_sql_bpe_apply_chain()},
sym AS (
  SELECT doc_id,
         CAST(CASE WHEN trim(w) = '' THEN 0
                   ELSE len(string_split_regex(trim(w), ' +')) END AS BIGINT) AS n_symbols
  FROM d{BPE_MERGES} WHERE {arr}
)
SELECT q.doc_id, q.reason, pii.n_pii,
       CAST(CASE WHEN cont.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS contaminated,
       dd.verdict AS dedup_verdict, sym.n_symbols,
       (q.reason = 'ok' AND cont.doc_id IS NULL AND dd.verdict = 'novel') AS admitted
FROM q
JOIN pii ON q.doc_id = pii.doc_id
LEFT JOIN cont ON q.doc_id = cont.doc_id
JOIN dd ON q.doc_id = dd.doc_id
JOIN sym ON q.doc_id = sym.doc_id
ORDER BY q.doc_id"""


# Composed streaming INGEST ADMISSION GATE
# (streaming/ingest_gate_stream.py): quality reason + PII exposure +
# Bloom-prescreened decontamination + persisted-LSH-index near-dup
# verdict + frozen-tokenizer symbol count, joined per arriving doc into
# one admission row — the front-door decision a training-data pipeline
# makes, and the ingest-time twin of corpus_build_funnel.
# Oracle: every column is a per-doc pure function of frozen state
# (stateless maps, the frozen bitmap + probe relation, the persisted
# index, the frozen merge list), so the union over micro-batches equals
# evaluating the whole arrival set at once — certified against the
# composition of the stage oracles (the NINETEENTH hash-certified
# stream).
_stream(
    "ingest_gate_stream",
    _sql_ingest_gate_stream(),
    StreamSpec(
        kind="ingest_gate_in",
        source="documents",
        stage=lambda docs: _doc_text(
            docs.filter(
                (F.col("doc_id") % dedup.INCREMENTAL_STRIDE == 0)
                & (F.col("doc_id") % curation.PROBE_STRIDE != 0)
            )
        ),
        frozen=_ingest_gate_state,
        run=IGS.run_ingest_gate,
        columns=("doc_id", "reason", "n_pii", "contaminated", "dedup_verdict", "n_symbols", "admitted"),
        order=("doc_id",),
    ),
)


def _sql_range_join_stream_oracle() -> str:
    """The batch interval-join PAIR set (pre-aggregation twin of
    purchases_near_views_range). The band predicate compares NATIVE
    timestamps — exact microsecond arithmetic, matching the stream's
    timestamp join condition bit-for-bit at the band boundary (an
    epoch-double band could round differently at exact edges)."""
    from .functions.portable import sql_roundn
    from .operators.analytics import RANGE_JOIN_WINDOW_S

    return f"""
SELECT v.event_id AS view_id, v.user_id,
       {sql_roundn('epoch(p.ts) - epoch(v.ts)', 3)} AS gap_s
FROM events v
JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts > v.ts
 AND p.ts <= v.ts + INTERVAL {RANGE_JOIN_WINDOW_S} SECOND
ORDER BY view_id, gap_s"""


# Watermarked stream-stream interval join (views x purchases within the
# band) — the streaming tier of purchases_near_views_range.
# Oracle (round 7): the emitted PAIR SET is batch-order-independent —
# the join is data-driven (a pair emits when both sides have arrived)
# and WATERMARK_DELAY exceeds the staged data's event-time span, so no
# pair is ever dropped as late (run_files_to_memory raises on any
# numRowsDroppedByWatermark). The finite replay therefore emits exactly
# the batch interval-join pair set, and the driver check upgrades from
# rows-only to rows+schema+hash; only the emission TIMING remains a
# streaming-only notion. gap_s re-rounds with the portable roundn on
# both sides.
_stream(
    "range_join_stream",
    _sql_range_join_stream_oracle(),
    StreamSpec(
        kind="rjoin_stream_in",
        source="events",
        # stage only the two event types the join consumes: the stream's
        # own filters would drop the rest anyway, and the replay is 2/5
        # the size (pure staging optimization, not a semantic change)
        stage=lambda events: events.filter(F.col("event_type").isin("view", "purchase")).select(
            "event_id", "user_id", F.col("ts").cast("double").alias("ts_s"), "event_type"
        ),
        run=RJ.run_files_to_memory,
        memory_sink=True,
        columns=("view_id", "user_id", "gap_s"),
        rounded=("gap_s",),
        order=("view_id", "gap_s"),
    ),
)


def _with_drain(fn: QueryFn) -> QueryFn:
    """Release the previous query's pooled persists before running the
    next one (functions/cachepool.py): by the time the driver invokes
    query N+1 it has collected query N's result, so N's caches are dead
    weight. Bounds cached storage to one query's working set across a
    long-lived session. Internal operator-to-operator calls bypass the
    wrapper — only the registry boundary drains."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .functions.cachepool import drain

        drain()
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, QueryFn]:
    return {name: _with_drain(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
