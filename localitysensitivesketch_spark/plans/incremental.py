"""Incremental corpus updates: sketch only the new docs, merge clusters.

Reference analogue: re-clustering on value drift — when a key's value moves
it is deleted from its old cluster's filter+cell and re-inserted into the
new one (``Sketching/LSSFingerprintAtomic.java:646-686``), without
rebuilding the sketch.  Here: a new crawl snapshot arrives, only the new
docs are shingled/hashed (the expensive stage), candidates are generated
new-vs-new and new-vs-old via the same salted band join, and the cluster
labels are recomputed from the merged edge set.  On Iceberg this is a
MERGE INTO per stage table; the sandbox store overwrites the stage dirs
through the same commit protocol.

Cost model at scale: signatures O(|new|); candidate join O(|new| band rows
⋈ store); connected components O(|V|+|E|) but over the (small) edge set
only — never re-reads the old corpus text.

Store layout at cluster scale: the documents and signature tables are
joined on ``doc_id`` by every verify pass and relabel — write them
bucketed on ``doc_id`` (``sources/bucketed_store.py``; on Iceberg the
``bucket(N, doc_id)`` partition transform) so those joins read
co-located buckets with no exchange.  The sandbox CheckpointStore keeps
plain dir-swap parquet because its atomic-commit protocol (and the
resume tests that pin it) predate catalog tables; the bucketed layout is
a drop-in for the ``read``/``write`` surface.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SketchConfig
from ..functions.bloom import bloom_prefilter
from ..operators.candidates import pairs_by_key
from ..operators.cluster import merge_components
from ..operators.signatures import compute_signatures
from ..operators.verify import duplicate_edges, verify_pairs
from .pipeline import CheckpointStore


def incremental_update(
    store: CheckpointStore,
    all_documents: DataFrame,
    new_documents: DataFrame,
    cfg: SketchConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    stage_suffix: str = "",
) -> dict[str, DataFrame]:
    """Merge ``new_documents`` into an existing pipeline checkpoint.

    ``all_documents`` must contain old + new rows (texts are needed to
    verify old-vs-new candidate pairs).  Returns the updated stage tables;
    every updated stage is re-committed through the store's protocol so a
    later resume sees the merged state.

    ``stage_suffix`` must match the suffix the stages were committed
    under — bare names for a direct :class:`DedupPipeline` run (default),
    or the lineage hash a :class:`~.curation.CurationPipeline` run used
    (``CurationResult.dedup_stage_suffix``); mixing them would either
    fail to find the tables or, worse, merge into a stale lineage.
    """
    cfg = cfg or store.cfg
    t0 = time.time()

    def nm(stage: str) -> str:
        return stage + stage_suffix

    old_sigs = store.read(nm("signatures"))
    new_sigs = compute_signatures(
        new_documents, cfg, id_col=id_col, text_col=text_col
    ).localCheckpoint(eager=True)

    new_keys = new_sigs.filter(F.col("n_shingles") > 0).select(
        "doc_id", F.explode("band_keys").alias("key")
    )
    # new-vs-new through the standard salted/capped path
    nn_pairs, _ = pairs_by_key(new_keys, cfg)
    # new-vs-old: equi-join on band key against the stored signatures
    old_keys = old_sigs.filter(F.col("n_shingles") > 0).select(
        F.col("doc_id").alias("old_id"), F.explode("band_keys").alias("key")
    )
    # M2 Bloom pre-filter (functions/bloom.py; reference BloomFilter.java:
    # 153-232): old-side band-key rows whose key cannot be among the new
    # batch's keys are dropped map-side BEFORE the shuffle join — at scale
    # |old| ≫ |new|, so this turns the join's big side into ~|matching old
    # rows|.  Decided on the committed signature table it probes, so a
    # merge into a small store skips the sizing count and filter build;
    # lossless either way (FPs are discarded by the exact join).
    prefilter = bloom_prefilter(old_sigs)
    if prefilter is not None:
        old_keys = prefilter(old_keys, new_keys, "key")
    no_pairs = (
        new_keys.join(old_keys, "key")
        .filter(F.col("doc_id") != F.col("old_id"))
        .select(
            F.least("doc_id", "old_id").alias("id1"),
            F.greatest("doc_id", "old_id").alias("id2"),
        )
        .distinct()
    )
    candidates = nn_pairs.unionByName(no_pairs).distinct()

    verified = verify_pairs(
        candidates, all_documents, cfg, id_col=id_col, text_col=text_col,
        signatures=old_sigs.unionByName(new_sigs),
        min_jaccard=cfg.jaccard_threshold,
    )
    # merge the verified table too — a later resume must never pair a stale
    # 'verified' commit with the merged candidates/edges written below
    merged_verified = store.read(nm("verified")).unionByName(verified).distinct()
    new_edges = duplicate_edges(verified, cfg)
    merged_edges = store.read(nm("edges")).unionByName(new_edges).distinct()

    merged_sigs = old_sigs.unionByName(new_sigs)
    # incremental CC: contract the committed clusters, CC only the
    # batch-sized contracted graph, relabel with one broadcast join —
    # identical labels to a full recompute over merged_edges (pinned by
    # test_merge_components_equals_full_recompute), but the only
    # corpus-sized work is a map-side pass over the label table
    clusters = merge_components(
        store.read(nm("clusters")),
        new_edges.select("id1", "id2"),
        new_vertices=new_documents.select(
            F.col(id_col).cast("long").alias("doc_id")
        ),
    )
    stats = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("size"), F.min("doc_id").alias("canonical_doc_id")
    )
    merged_cands = store.read(nm("candidates")).unionByName(candidates).distinct()

    # materialize every frame whose plan reads a stage about to be
    # rewritten — commits below swap the underlying files (on Iceberg the
    # snapshot isolation makes this a no-op)
    merged_sigs = merged_sigs.localCheckpoint(eager=True)
    merged_cands = merged_cands.localCheckpoint(eager=True)
    merged_verified = merged_verified.localCheckpoint(eager=True)
    merged_edges = merged_edges.localCheckpoint(eager=True)
    clusters = clusters.localCheckpoint(eager=True)
    stats = stats.localCheckpoint(eager=True)

    wall = time.time() - t0
    out = {}
    out["signatures"] = store.write(nm("signatures"), merged_sigs, wall)
    out["candidates"] = store.write(nm("candidates"), merged_cands, wall)
    out["verified"] = store.write(nm("verified"), merged_verified, wall)
    out["edges"] = store.write(nm("edges"), merged_edges, wall)
    out["clusters"] = store.write(nm("clusters"), clusters, wall)
    out["cluster_stats"] = store.write(nm("cluster_stats"), stats, wall)
    # the per-run skew metrics describe only the batch that produced them —
    # invalidate so a resume recomputes instead of reusing a stale table.
    # Use the SUFFIXED key (the one this lineage committed under); also
    # drop the bare key for checkpoints written before suffix-awareness.
    store.invalidate(nm("skew_metrics"))
    if stage_suffix:
        store.invalidate("skew_metrics")
    # cascade: any downstream stage (curation's survivors / containment /
    # span / funnel tables, keyed via this spine's suffix) now holds
    # pre-merge content — invalidate every commit whose recorded
    # dependency chain reaches a table rewritten above, so a later
    # resume=True recomputes them over the merged spine instead of
    # silently serving stale survivors
    rewritten = [
        nm(s)
        for s in (
            "signatures", "candidates", "verified", "edges",
            "clusters", "cluster_stats", "skew_metrics",
        )
    ]
    store.invalidate_downstream(rewritten, exclude=rewritten)
    return out
