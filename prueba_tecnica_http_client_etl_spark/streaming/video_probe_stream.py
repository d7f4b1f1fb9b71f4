"""Streaming video-containment probe against the frozen frame-fingerprint
index — the VIDEO leg of the ingest-probe trifecta (image: Hamming
verdicts over dHash; audio: Hamming over envelope fingerprints; video:
SET CONTAINMENT over per-frame fingerprints). Each arriving video walks
its container for real (length-prefixed PGM frames -> pixel parse ->
56-bit dHash per frame, the exact serving decode path), and its DISTINCT
frame set probes the index's inverted (doc_id, fh) table: candidates are
index videos sharing >= 1 frame, scored by the exact rational containment
n_shared / min(n_arriving, n_index) — 'near_dup' at the serving threshold
(>= 0.7), else 'novel'. There is no separate exact branch: containment
1.0 (a full re-upload or a truncated subset) is the near_dup branch's
boundary case, reported precisely in best_containment.

Verdicts reference ONLY the frozen index — never other in-flight videos
— so they are per-video pure functions and the union over micro-batches
equals probing the whole arrival set at once (the image-probe
decomposability argument over the frame domain), which is what lets the
registry certify the stream against a batch SQL oracle. Per-batch cost:
|batch frames| index lookups through the inverted table + a bounded
per-(arrival, candidate) aggregate. The index side is two checkpointed
artifacts (frame table + per-video sizes) and never shuffles; like the
image/audio probes it is deliberately UNVALVED — a probe against a hot
fingerprint bucket of size s costs s rows per arriving video (linear,
not the s^2 batch-pair blowup the batch valve refuses).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.multimodal import (
    _VID_CONTAIN_DEN,
    _VID_CONTAIN_NUM,
    _video_fh_batches,
)
from .runner import run_transform_stream

DOC_SCHEMA = "doc_id long"


def probe_video_batch(
    batch: DataFrame, index_fhd: DataFrame, index_sizes: DataFrame
) -> DataFrame:
    """(doc_id, verdict, n_candidates, best_containment) for one
    micro-batch of arriving videos against the frozen index: index_fhd
    is the DISTINCT (doc_id, fh) frame table, index_sizes its per-video
    distinct-frame counts. best_containment is the max over candidates
    (4-dp portable rounding); the verdict branches on the EXACT rational
    threshold, never the rounded double."""
    from ..functions.portable import roundn

    fhd = (
        batch.mapInPandas(_video_fh_batches, "doc_id long, frame_idx long, fh long")
        .select("doc_id", "fh")
        .distinct()
    )
    pn = fhd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("pn"))
    ix = index_fhd.select(F.col("doc_id").alias("ix_id"), "fh")
    inn = index_sizes.select(F.col("doc_id").alias("ix_id"), F.col("n").alias("ixn"))
    shared = (
        fhd.join(ix, "fh")
        .groupBy("doc_id", "ix_id")
        .agg(F.count(F.lit(1)).alias("ns"))
    )
    scored = (
        shared.join(pn, "doc_id")
        .join(inn, "ix_id")
        .select(
            "doc_id",
            "ns",
            F.least("pn", "ixn").alias("mn"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max(F.col("ns").cast("double") / F.col("mn").cast("double")).alias("best_raw"),
        F.max(
            (F.col("ns") * _VID_CONTAIN_DEN >= F.col("mn") * _VID_CONTAIN_NUM).cast("int")
        ).alias("has_near"),
    )
    probed = pn.select("doc_id").join(agg, "doc_id", "left")
    return probed.select(
        "doc_id",
        F.when(F.col("has_near") == 1, F.lit("near_dup"))
        .otherwise(F.lit("novel"))
        .alias("verdict"),
        F.coalesce(F.col("n_candidates"), F.lit(0)).cast("long").alias("n_candidates"),
        roundn(F.col("best_raw"), 4).alias("best_containment"),
    )


# Probes every arriving micro-batch against the frozen frame index.
run_video_probe = partial(
    run_transform_stream, schema=DOC_SCHEMA, layer="verdicts", transform=probe_video_batch
)
