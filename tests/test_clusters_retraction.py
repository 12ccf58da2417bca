"""CDC-delete support in the cluster store (round 10, VERDICT r9 next
#1): remove_docs must leave live_cluster_map equal to batch CC over the
pairs among the SURVIVING docs — including the articulation case where a
removed doc bridged two halves of its cluster — with tombstones blocking
resurrection, replay idempotence, translation pruning, and physical
erasure through compaction + purge_band_stores."""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

from cdc_rs_spark.streaming.clusters import (
    compact_cluster_store,
    fold_pairs,
    init_cluster_store,
    live_cluster_map,
    purge_band_stores,
    remove_docs,
    tombstones,
)
from cdc_rs_spark.streaming.store import read_sidecar, resolve_store


def _read_meta(root):
    return read_sidecar(root, "_cluster_meta.json")


def _pairs_df(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges] or [],
        "id_a bigint, id_b bigint",
    )


def _live(spark, root):
    return {
        r["doc_id"]: r["cluster"]
        for r in live_cluster_map(spark, root).collect()
    }


def _write_stores(spark, tmp_path, edges, docs=None):
    """Synthetic band + shingle stores consistent with `edges`: each edge
    gets its own unique band key (so candidate pairs == edges exactly)
    and every doc's shingle set shares a 3-token core plus one doc-unique
    token (pairwise Jaccard 3/5 = 0.6 >= 0.5, and DISTINCT arrays — the
    round-11 recompute collapses identical shingle arrays as exact dups,
    which is the real pipeline's invariant: identical shingles imply
    identical signatures/bands). Returns (sig_path, sh_path)."""
    sig_rows = []
    for i, (a, b) in enumerate(edges):
        sig_rows.append((int(a), i, f"e{i}"))
        sig_rows.append((int(b), i, f"e{i}"))
    sig_path = str(tmp_path / "sig")
    sh_path = str(tmp_path / "sh")
    spark.createDataFrame(
        sig_rows or [], "doc_id bigint, band int, bkey string"
    ).write.mode("overwrite").parquet(sig_path)
    all_docs = docs if docs is not None else sorted(
        {d for e in edges for d in e}
    )
    spark.createDataFrame(
        [(int(d), ["s1", "s2", "s3", f"d{d}"]) for d in all_docs] or [],
        "doc_id bigint, sh array<string>",
    ).write.mode("overwrite").parquet(sh_path)
    return sig_path, sh_path


def test_articulation_removal_splits_cluster(spark, tmp_path):
    """A-B-C chained through B: removing B must split A and C into
    implicit singletons (their entries DROP), not leave them glued."""
    root = str(tmp_path / "store")
    init_cluster_store(spark, root)
    fold_pairs(spark, root, _pairs_df(spark, [(1, 2), (2, 3)]), batch_id=0)
    assert _live(spark, root) == {1: 1, 2: 1, 3: 1}
    sig, sh = _write_stores(spark, tmp_path, [(1, 2), (2, 3)])
    stats = remove_docs(
        spark, root, _pairs_df(spark, []).sparkSession.createDataFrame(
            [(2,)], "doc_id bigint"
        ),
        sig_store_path=sig, shingle_store_path=sh, batch_id=1,
    )
    assert stats["n_removed"] == 1
    assert stats["n_affected_clusters"] == 1
    assert stats["n_dropped_singletons"] == 2  # A and C both unpaired now
    assert _live(spark, root) == {}


def test_non_articulation_removal_keeps_cluster(spark, tmp_path):
    """Removing a leaf of a triangle keeps the other two paired."""
    root = str(tmp_path / "store")
    init_cluster_store(spark, root)
    edges = [(4, 5), (5, 6), (4, 6)]
    fold_pairs(spark, root, _pairs_df(spark, edges), batch_id=0)
    sig, sh = _write_stores(spark, tmp_path, edges)
    remove_docs(
        spark, root, spark.createDataFrame([(6,)], "doc_id bigint"),
        sig_store_path=sig, shingle_store_path=sh, batch_id=1,
    )
    assert _live(spark, root) == {4: 4, 5: 4}


def test_removed_root_relabels_to_live_min(spark, tmp_path):
    """Removing the cluster ROOT (min id) relabels survivors to the new
    live minimum."""
    root = str(tmp_path / "store")
    init_cluster_store(spark, root)
    edges = [(10, 11), (11, 12), (10, 12)]
    fold_pairs(spark, root, _pairs_df(spark, edges), batch_id=0)
    sig, sh = _write_stores(spark, tmp_path, edges)
    remove_docs(
        spark, root, spark.createDataFrame([(10,)], "doc_id bigint"),
        sig_store_path=sig, shingle_store_path=sh, batch_id=1,
    )
    assert _live(spark, root) == {11: 11, 12: 11}


def test_tombstone_blocks_resurrection(spark, tmp_path):
    """After removal, a later fold whose pairs touch the removed doc is
    filtered — the doc never re-enters the map."""
    root = str(tmp_path / "store")
    init_cluster_store(spark, root)
    fold_pairs(spark, root, _pairs_df(spark, [(1, 2)]), batch_id=0)
    sig, sh = _write_stores(spark, tmp_path, [(1, 2)])
    remove_docs(
        spark, root, spark.createDataFrame([(2,)], "doc_id bigint"),
        sig_store_path=sig, shingle_store_path=sh, batch_id=1,
    )
    assert _live(spark, root) == {}
    stats = fold_pairs(
        spark, root, _pairs_df(spark, [(2, 3), (2, 1)]), batch_id=2
    )
    assert stats["n_pairs"] == 0
    assert _live(spark, root) == {}
    assert {r["doc_id"] for r in tombstones(spark, root).collect()} == {2}


def test_remove_replay_is_idempotent(spark, tmp_path):
    root = str(tmp_path / "store")
    init_cluster_store(spark, root)
    fold_pairs(spark, root, _pairs_df(spark, [(1, 2), (2, 3)]), batch_id=0)
    sig, sh = _write_stores(spark, tmp_path, [(1, 2), (2, 3)])
    rm = spark.createDataFrame([(2,)], "doc_id bigint")
    remove_docs(spark, root, rm, sig_store_path=sig,
                shingle_store_path=sh, batch_id=1)
    before = _live(spark, root)
    stats = remove_docs(spark, root, rm, sig_store_path=sig,
                        shingle_store_path=sh, batch_id=1)
    assert stats["skipped_duplicate"]
    assert _live(spark, root) == before


def test_remove_unknown_doc_is_tombstone_only(spark, tmp_path):
    """Deleting a doc with no map entry records the tombstone and leaves
    every cluster untouched."""
    root = str(tmp_path / "store")
    init_cluster_store(spark, root)
    fold_pairs(spark, root, _pairs_df(spark, [(1, 2)]), batch_id=0)
    stats = remove_docs(
        spark, root, spark.createDataFrame([(99,)], "doc_id bigint"),
        batch_id=1,
    )
    assert stats["n_affected_clusters"] == 0
    assert stats["n_removed"] == 1
    assert _live(spark, root) == {1: 1, 2: 1}
    assert {r["doc_id"] for r in tombstones(spark, root).collect()} == {99}


def test_translation_prune_after_merge_then_remove(spark, tmp_path):
    """Fold two clusters, merge them (creating a translation entry),
    then remove the bridge: the translation funneling into the affected
    root must be pruned, and a survivor whose new component min equals a
    translated-away root must keep that label (the mislabeling hazard
    the prune exists for)."""
    root = str(tmp_path / "store")
    init_cluster_store(spark, root)
    # two clusters {1,2} and {5,6}; then bridge 2-5 merges them
    # (root 5 translates away to 1)
    fold_pairs(spark, root, _pairs_df(spark, [(1, 2)]), batch_id=0)
    fold_pairs(spark, root, _pairs_df(spark, [(5, 6)]), batch_id=1)
    fold_pairs(spark, root, _pairs_df(spark, [(2, 5)]), batch_id=2)
    assert _live(spark, root) == {1: 1, 2: 1, 5: 1, 6: 1}
    assert _read_meta(root)["translations"]  # the merge logged one
    edges = [(1, 2), (5, 6), (2, 5)]
    sig, sh = _write_stores(spark, tmp_path, edges)
    # removing 1 and 2 leaves {5,6} paired: new min is 5 — exactly the
    # translated-away old root
    remove_docs(
        spark, root, spark.createDataFrame([(1,), (2,)], "doc_id bigint"),
        sig_store_path=sig, shingle_store_path=sh, batch_id=3,
    )
    assert _live(spark, root) == {5: 5, 6: 5}
    assert _read_meta(root)["translations"] == []


def test_compaction_physically_drops_removed_docs(spark, tmp_path):
    root = str(tmp_path / "store")
    init_cluster_store(spark, root)
    edges = [(1, 2), (2, 3), (1, 3)]
    fold_pairs(spark, root, _pairs_df(spark, edges), batch_id=0)
    sig, sh = _write_stores(spark, tmp_path, edges)
    remove_docs(
        spark, root, spark.createDataFrame([(3,)], "doc_id bigint"),
        sig_store_path=sig, shingle_store_path=sh, batch_id=1,
    )
    compact_cluster_store(spark, root, keep_epochs=0)
    meta = _read_meta(root)
    base = spark.read.schema(
        "doc_id bigint, cluster bigint, bucket int"
    ).parquet(os.path.join(root, f"base-{meta['base_epoch']:06d}"))
    ids = {r["doc_id"] for r in base.collect()}
    assert ids == {1, 2}
    assert _live(spark, root) == {1: 1, 2: 1}


def test_purge_band_stores_erases_tombstoned_rows(spark, tmp_path):
    root = str(tmp_path / "store")
    init_cluster_store(spark, root)
    edges = [(1, 2), (2, 3)]
    fold_pairs(spark, root, _pairs_df(spark, edges), batch_id=0)
    sig, sh = _write_stores(spark, tmp_path, edges)
    remove_docs(
        spark, root, spark.createDataFrame([(2,)], "doc_id bigint"),
        sig_store_path=sig, shingle_store_path=sh, batch_id=1,
    )
    counts = purge_band_stores(spark, root, sig, sh)
    assert counts["sig_rows"] > 0
    # post-purge reads resolve through the atomic swap pointer (round 11)
    sig_ids = {
        r["doc_id"] for r in spark.read.parquet(resolve_store(sig)).collect()
    }
    sh_ids = {
        r["doc_id"] for r in spark.read.parquet(resolve_store(sh)).collect()
    }
    assert 2 not in sig_ids and 2 not in sh_ids
    assert sig_ids == {1, 3} and sh_ids == {1, 3}
    # the tombstone set is compacted, not truncated — re-ingestion of a
    # forgotten doc must stay blocked until an explicit readmit
    assert {r["doc_id"] for r in tombstones(spark, root).collect()} == {2}


def test_random_interleaved_folds_and_removes_match_batch_cc(
    spark, tmp_path
):
    """THE retraction invariant, randomized: fold a random graph in
    batches, interleave random removals, and after every removal the
    live map must equal batch CC over the edges among SURVIVORS."""
    from cdc_rs_spark.operators.graph import connected_components

    rng = random.Random(10)
    n_docs = 30
    edges = sorted(
        {tuple(sorted(rng.sample(range(n_docs), 2))) for _ in range(45)}
    )
    root = str(tmp_path / "store")
    init_cluster_store(spark, root)
    sig, sh = _write_stores(
        spark, tmp_path, edges, docs=range(n_docs)
    )
    # fold in 3 batches
    k = len(edges) // 3
    bid = 0
    for i in range(0, len(edges), k):
        fold_pairs(spark, root, _pairs_df(spark, edges[i : i + k]),
                   batch_id=bid)
        bid += 1
    removed: set[int] = set()
    for _ in range(3):
        batch = set(rng.sample(sorted(set(range(n_docs)) - removed), 4))
        removed |= batch
        remove_docs(
            spark, root,
            spark.createDataFrame([(d,) for d in sorted(batch)],
                                  "doc_id bigint"),
            sig_store_path=sig, shingle_store_path=sh, batch_id=bid,
        )
        bid += 1
        live_edges = [
            (a, b) for a, b in edges
            if a not in removed and b not in removed
        ]
        if live_edges:
            labels = connected_components(
                _pairs_df(spark, live_edges), "id_a", "id_b", max_iter=100
            )
            expected = {
                r["v"]: r["component"] for r in labels.collect()
            }
        else:
            expected = {}
        assert _live(spark, root) == expected
