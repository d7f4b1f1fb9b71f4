"""Streaming probe of the frozen perceptual-image signature index — the
crawler-ingest loop for the multimodal tier (the image analog of
index_probe_stream's LSH probe): the corpus's dHash signatures are
trained once per snapshot (the image_phash_sigs artifact), and each
arriving micro-batch of images is decoded FOR REAL (PGM pixel walk ->
cell averages -> 56-bit dHash, the exact serving decode path), banded,
and probed against the index's band table for
exact_dup / near_dup / novel verdicts.

Verdicts reference ONLY the frozen index — never other in-flight images
— so they are per-image pure functions: the union of per-batch verdicts
is byte-identical to probing the whole arrival set at once, which is
what lets the registry certify this stream against a batch SQL oracle
(the dedup_index_probe_stream decomposability argument, applied to the
pixel domain). Per-batch cost is |batch| x _PH_BANDS index lookups,
independent of corpus size; the index side is a checkpointed artifact
and never shuffles.

The probe join deliberately reads the UNVALVED index bands (unlike the
batch pair tiers, which drop hot band buckets before pair generation —
operators/multimodal.py banded_hot_values): a probe's cost against a
bucket of size s is s comparisons per arriving item, LINEAR in s, not
the s^2 pair blowup the batch valve refuses — and an arriving black
frame should be able to see its verdict against the index's black
frames rather than silently reading 'novel'.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.multimodal import (
    _PH_HAMMING_K,
    _audio_fp_batches,
    _phash_bands,
    _phash_batches,
)
from .runner import run_transform_stream

DOC_SCHEMA = "doc_id long"


def probe_phash_batch(
    batch: DataFrame, index_bands: DataFrame, *, sig_batches=_phash_batches
) -> DataFrame:
    """(doc_id, verdict, n_band_candidates, min_hamming) for one
    micro-batch of arriving payloads against the frozen banded index.
    exact_dup = an index item with the identical hash shares a band;
    near_dup = nearest banded index item within _PH_HAMMING_K bits;
    novel = no banded candidate within the threshold (or none at all).
    The decode step is pluggable (`sig_batches`): image dHash by
    default, the audio envelope fingerprint for the audio stream —
    both emit (doc_id, phash) into the same 56-bit band geometry, so
    banding, probe join, and verdicts are shared verbatim.
    """
    sigs = batch.mapInPandas(sig_batches, "doc_id long, phash long")
    pb = _phash_bands(sigs).select(
        "doc_id", F.col("phash").alias("pp"), "band", "bv"
    )
    ib = index_bands.select(
        F.col("doc_id").alias("ix_id"), F.col("phash").alias("pi"), "band", "bv"
    )
    cand = (
        pb.join(ib, ["band", "bv"])
        .select("doc_id", "ix_id", "pp", "pi")
        .distinct()
    )
    agg = cand.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_band_candidates"),
        F.min(F.expr("bit_count(pp ^ pi)")).cast("long").alias("min_hamming"),
    )
    probed = sigs.select("doc_id").join(agg, "doc_id", "left")
    return probed.select(
        "doc_id",
        F.when(F.col("min_hamming") == 0, F.lit("exact_dup"))
        .when(F.col("min_hamming") <= _PH_HAMMING_K, F.lit("near_dup"))
        .otherwise(F.lit("novel"))
        .alias("verdict"),
        F.coalesce(F.col("n_band_candidates"), F.lit(0)).cast("long").alias(
            "n_band_candidates"
        ),
        "min_hamming",
    )


# Probes every arriving micro-batch against the frozen banded signature
# index.
run_image_probe = partial(
    run_transform_stream, schema=DOC_SCHEMA, layer="verdicts", transform=probe_phash_batch
)


# The audio twin of run_image_probe: arriving clips synthesize and decode
# their WAVs for real (RIFF walk -> frame means -> envelope dHash, the
# serving decode path) and probe the frozen audio signature index. Same
# runner contract and verdict schema.
run_audio_probe = partial(
    run_transform_stream,
    schema=DOC_SCHEMA,
    layer="verdicts",
    transform=partial(probe_phash_batch, sig_batches=_audio_fp_batches),
)
