"""Session-scoped trained-artifact store (the in-session analog of the
persisted index plans).

A production pipeline trains its quantizers, codebooks, ANN ground-truth
audit tables, and duplicate-cluster labels ONCE per corpus snapshot and
persists them (plans/lsh_index.py and plans/ivf_index.py are the on-disk
forms); serving and audit queries then read the artifact instead of
re-deriving it. The registry's queries are self-contained by contract
(each is callable cold), so the FIRST query that needs an artifact
builds it; later queries in the same session reuse the materialized
frame. Reuse is bit-identical to retraining by construction: every
builder is deterministic (integer state, portable rounding, md5-derived
randomness), so the stored frame holds exactly the rows a fresh build
would produce — the driver's hash oracle certifies memoized results the
same way it certifies fresh ones, and tests/test_artifacts.py asserts
memoized == fresh directly.

What may be stored: exactly the state a production pipeline persists
per corpus snapshot — trained quantizers/codebooks/code tables, the
duplicate-cluster label table, and the versioned brute-force
ground-truth table a recall audit gates against. Never the output of
the query being served: each consumer still runs its own
probe/rank/aggregate plan on top of the artifact, exactly as it would
over the persisted on-disk form. (The ground-truth table is the ids
projection of the brute-force tier's result — that is what production
audits version and reuse; the gate queries that CONSUME it still
compute their hits/recall per call.)

Construction is EAGER by design: trained_artifact materializes during
DataFrame composition, the same way probing a persisted index table
requires the table to exist at plan time. Consumers of these helpers
therefore run training jobs when their plan is first built in a
session (plan-shape tests included) — the lazy-frame contract in
cachepool.py applies to operator-internal persists, not to artifacts.

Keying: (builder name, absolute sf_dir, source-table identity, Spark
application id). The identity is schemas._file_identity's (realpath,
inode, size, mtime_ns) of the table file, or of every file under a
directory table, so any rewrite of the corpus snapshot retrains,
including a part file rewritten in place, which leaves the directory's
own mtime alone. The application id drops artifacts whose SparkContext
died (their checkpoint blocks die with it). The store is bounded FIFO —
evicting an entry only releases the frame reference; the ContextCleaner
frees its localCheckpoint blocks when the frame is garbage-collected.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..schemas import _file_identity

# Sized above the engine's per-corpus artifact count (~25 distinct
# names at round 17, growing ~2 per round): an LRU eviction of an
# actively-reused artifact is a SILENT retrain mid-suite — the cap
# exists to bound multi-corpus sessions, not to thrash a single-corpus
# run. Re-derive the headroom when adding artifact families.
_MAX_ENTRIES = 48
_STORE: "OrderedDict[tuple, DataFrame]" = OrderedDict()


def artifact_key(
    name: str, spark: SparkSession, sf_dir: str, table: str = "documents"
) -> tuple:
    """Identity of a trained artifact: WHAT was trained (name), on WHICH
    corpus snapshot (sf_dir + the source table's file identity), in WHICH
    Spark application (checkpoint blocks are application-scoped)."""
    try:
        identity = _file_identity(os.path.join(sf_dir, f"{table}.parquet"))
    except OSError:
        identity = None
    return (name, os.path.abspath(sf_dir), identity, spark.sparkContext.applicationId)


def trained_artifact(key: tuple, build: Callable[[], DataFrame]) -> DataFrame:
    """Return the artifact for `key`, building + materializing it on
    first use. localCheckpoint(eager) truncates lineage AND pins the
    rows: the stored frame never recomputes (its blocks are the only
    source), so every consumer across queries reads the same bytes.
    NEVER pool these frames in cachepool — unpersist would free a
    checkpointed frame's only source (see cachepool's contract)."""
    df = _STORE.get(key)
    if df is not None:
        # LRU, not FIFO: a hit refreshes recency so a long session that
        # trains more than _MAX_ENTRIES artifacts evicts genuinely idle
        # entries instead of the oldest actively-reused one (whose
        # silent retrain is exactly the cost the store exists to avoid)
        _STORE.move_to_end(key)
    if df is None:
        df = build().localCheckpoint(eager=True)
        # prune artifacts from OTHER Spark applications (their contexts
        # are dead; the frames only pin stale py4j references) before
        # applying the FIFO bound. artifact_key's application id is the
        # last tuple element; same-length keys from other apps differ.
        if len(key) == 4:
            for k in [k for k in _STORE if len(k) == 4 and k[3] != key[3]]:
                del _STORE[k]
        _STORE[key] = df
        while len(_STORE) > _MAX_ENTRIES:
            _STORE.popitem(last=False)
    return df


def clear() -> None:
    """Drop every stored artifact (tests / forced retrain); block
    cleanup is GC-driven via the ContextCleaner."""
    _STORE.clear()
