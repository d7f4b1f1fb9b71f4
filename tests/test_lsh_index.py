"""Persisted LSH index lifecycle (plans/lsh_index.py): build-once /
probe-per-batch must reproduce dedup_incremental's verdicts exactly, and
the probe joins must read the index tables bucketed (no index-side
shuffle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prueba_tecnica_http_client_etl_spark.operators.dedup import (
    INCREMENTAL_STRIDE,
    dedup_incremental,
    docs_normalized,
)
from prueba_tecnica_http_client_etl_spark.plans import lsh_index as LI
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def built_index(spark):
    docs = docs_normalized(spark, SF_SMOKE).select("doc_id", "norm", "sh")
    is_incoming = F.col("doc_id") % INCREMENTAL_STRIDE == 0
    LI.build_lsh_index(docs.filter(~is_incoming), prefix="t_lshidx", n_buckets=4)
    return docs.filter(is_incoming)


def test_probe_matches_dedup_incremental(spark, built_index):
    probe = LI.probe_lsh_index(spark, built_index, prefix="t_lshidx").collect()
    inline = dedup_incremental(spark, SF_SMOKE).collect()
    assert [tuple(r) for r in probe] == [tuple(r) for r in inline]
    # fixture sanity: both the near tier and the pass-through occur at
    # smoke scale (the incoming stride carries no byte-identical copies,
    # so exact_dup legitimately may not appear)
    verdicts = {r.verdict for r in probe}
    assert {"near_dup", "novel"} <= verdicts <= {"exact_dup", "near_dup", "novel"}, verdicts


def test_probe_reads_bucketed_index(spark, built_index):
    df = LI.probe_lsh_index(spark, built_index, prefix="t_lshidx")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every index-table scan must select buckets (bucketed read, not a
    # plain file scan that would need an index-side shuffle)
    assert "SelectedBucketsCount" in plan, plan
    assert "t_lshidx_bands" in plan and "t_lshidx_shingles" in plan


def test_probe_unordered_has_no_global_sort(spark, built_index):
    """Round-12 verdict item 4 (foreachBatch orderBy tax): the streaming
    index-probe runner calls probe_lsh_index(ordered=False) because its
    per-batch parquet write discards ordering — that plan must carry NO
    range-partitioned global sort (SortMergeJoin's partition-local sorts
    are fine), while the default batch path keeps its doc_id order
    contract and both paths return the same verdict set."""
    df_u = LI.probe_lsh_index(spark, built_index, prefix="t_lshidx", ordered=False)
    plan_u = df_u._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan_u.lower(), plan_u
    df_o = LI.probe_lsh_index(spark, built_index, prefix="t_lshidx")
    plan_o = df_o._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan_o.lower(), plan_o
    assert sorted(map(tuple, df_u.collect())) == [tuple(r) for r in df_o.collect()]
