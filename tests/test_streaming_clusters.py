"""Incremental dedup-cluster maintenance (streaming/clusters.py, round 8):
fold micro-batches of LSH pairs into the persisted epoch-published map and
verify the core contract — after ANY interleaving, the resolved map equals
batch connected components over the union of all pairs — plus replay
idempotence, crash-retry healing, lazy-translation compaction, and the
bucket-pruned lookup plan shape."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from cdc_rs_spark.operators.graph import connected_components
from cdc_rs_spark.streaming.clusters import (
    clusters_foreach_batch,
    compact_cluster_store,
    fold_pairs,
    init_cluster_store,
    live_cluster_map,
)
from cdc_rs_spark.streaming.store import read_sidecar


def _read_meta(root):
    return read_sidecar(root, "_cluster_meta.json")


def _pairs_df(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges] or [],
        "id_a bigint, id_b bigint",
    )


def _expected_cc(spark, edges):
    if not edges:
        return {}
    labels = connected_components(
        _pairs_df(spark, edges), "id_a", "id_b", max_iter=100
    )
    return {r["v"]: r["component"] for r in labels.collect()}


def _live(spark, root):
    return {
        r["doc_id"]: r["cluster"]
        for r in live_cluster_map(spark, root).collect()
    }


def test_fold_equals_batch_cc_over_random_interleavings(spark, tmp_path):
    """THE invariant: for random graphs split into random batch
    sequences, folding batch-by-batch resolves to exactly the labels
    batch CC computes over the union — including chained merges that
    exercise the translation closure across folds."""
    rng = random.Random(8)
    for trial in range(3):
        n_docs = 40
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n_docs), 2)))
                for _ in range(30)
            }
        )
        rng.shuffle(edges)
        cuts = sorted(rng.sample(range(1, len(edges)), 3))
        batches = [
            edges[i:j]
            for i, j in zip([0] + cuts, cuts + [len(edges)])
        ]
        root = str(tmp_path / f"store{trial}")
        init_cluster_store(spark, root)
        seen: list = []
        for b, batch in enumerate(batches):
            fold_pairs(spark, root, _pairs_df(spark, batch), batch_id=b)
            seen += batch
            assert _live(spark, root) == _expected_cc(spark, seen), (
                trial,
                b,
            )


def test_fold_replay_and_refold_are_idempotent(spark, tmp_path):
    root = str(tmp_path / "store")
    init_cluster_store(spark, root)
    fold_pairs(spark, root, _pairs_df(spark, [(1, 2), (3, 4)]), batch_id=0)
    fold_pairs(spark, root, _pairs_df(spark, [(2, 3)]), batch_id=1)
    want = _live(spark, root)
    assert want == {1: 1, 2: 1, 3: 1, 4: 1}
    # ledger replay: skipped outright
    s = fold_pairs(spark, root, _pairs_df(spark, [(2, 3)]), batch_id=1)
    assert s["skipped_duplicate"] and _live(spark, root) == want
    # algebraic idempotence: same pairs under a NEW batch id change nothing
    s = fold_pairs(
        spark, root, _pairs_df(spark, [(1, 2), (2, 3)]), batch_id=2
    )
    assert s["n_merges"] == 0 and _live(spark, root) == want


def test_crashed_fold_retry_heals(spark, tmp_path, monkeypatch):
    """Crash between the delta write and the sidecar publish: the orphan
    delta is invisible (meta never listed it), and the retry overwrites
    it deterministically — never a half-applied merge."""
    import cdc_rs_spark.streaming.store as st

    root = str(tmp_path / "store")
    init_cluster_store(spark, root)
    fold_pairs(spark, root, _pairs_df(spark, [(5, 9)]), batch_id=0)
    before = _live(spark, root)

    real_write = st.write_sidecar
    calls = {"n": 0}

    def crashing_write(root_, name_, meta_):
        calls["n"] += 1
        raise RuntimeError("injected crash before publish")

    monkeypatch.setattr(st, "write_sidecar", crashing_write)
    with pytest.raises(RuntimeError, match="injected crash"):
        fold_pairs(spark, root, _pairs_df(spark, [(2, 5)]), batch_id=1)
    monkeypatch.setattr(st, "write_sidecar", real_write)
    # orphan delta exists but is unpublished: the map is unchanged
    assert _live(spark, root) == before
    orphans = [d for d in os.listdir(root) if d.endswith("s-1")]
    assert orphans, os.listdir(root)
    # retry merges cleanly
    fold_pairs(spark, root, _pairs_df(spark, [(2, 5)]), batch_id=1)
    assert _live(spark, root) == {5: 2, 9: 2, 2: 2}


def test_compaction_preserves_map_resets_log_and_gcs(spark, tmp_path):
    root = str(tmp_path / "store")
    init_cluster_store(spark, root)
    # chained merges across folds -> non-trivial translation log
    fold_pairs(spark, root, _pairs_df(spark, [(7, 9)]), batch_id=0)
    fold_pairs(spark, root, _pairs_df(spark, [(5, 7)]), batch_id=1)
    fold_pairs(spark, root, _pairs_df(spark, [(1, 9)]), batch_id=2)
    want = _live(spark, root)
    assert want == {7: 1, 9: 1, 5: 1, 1: 1}
    meta = _read_meta(root)
    assert meta["translations"], meta
    n = compact_cluster_store(spark, root, keep_epochs=1)
    assert n == len(want)
    meta = _read_meta(root)
    assert meta["base_epoch"] == 1 and meta["deltas"] == []
    assert meta["translations"] == []
    assert _live(spark, root) == want
    # retention: epoch-0 dirs survive one compaction, die after the next
    assert any(d == "base-000000" for d in os.listdir(root))
    compact_cluster_store(spark, root, keep_epochs=1)
    names = os.listdir(root)
    assert not any(d.startswith(("base-000000", "delta-000000")) for d in names), names
    # post-compaction folds still correct
    fold_pairs(spark, root, _pairs_df(spark, [(0, 5)]), batch_id=3)
    assert _live(spark, root) == {7: 0, 9: 0, 5: 0, 1: 0, 0: 0}


def test_fold_lookup_base_read_is_bucket_pruned(spark, tmp_path):
    """The per-batch root lookup must carry PartitionFilters on `bucket`
    — the static pruning that keeps fold cost batch-sized at any map
    size."""
    from cdc_rs_spark.streaming.clusters import _raw_rows

    root = str(tmp_path / "store")
    labels = spark.createDataFrame(
        [(i, i) for i in range(0, 100, 2)], "doc_id bigint, cluster bigint"
    )
    init_cluster_store(spark, root, labels)
    pruned = _raw_rows(spark, root, _read_meta(root), [3, 7])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    seg = [s for s in plan.split("+-") if "FileScan parquet" in s]
    assert seg, plan
    assert "PartitionFilters" in seg[0] and "bucket" in seg[0].split(
        "PartitionFilters"
    )[1][:200], seg[0]


SHARED = "the quick brown fox jumps over the lazy dog again and again "
assert len(SHARED) == 60


def _doc(i, tail):
    return (i, SHARED + tail if tail else SHARED)


def test_end_to_end_pipeline_matches_batch_cc_query(spark, tmp_path):
    """clusters_foreach_batch over a streamed corpus == batch CC over
    minhash_dedup_pairs of the full corpus (the dedup_connected_components
    semantics) — near-dup docs land in one cluster whichever batch they
    arrived in, and a replayed batch changes nothing (stores + map)."""
    from cdc_rs_spark.operators.dedup import minhash_dedup_pairs

    docs = [
        (1, SHARED * 3),
        (2, SHARED * 3 + "tail one"),
        (3, "completely different text " * 8),
        (4, "completely different text " * 8 + " coda"),
        (5, "an unrelated singleton document with its own words " * 4),
        (6, SHARED * 3 + "tail two"),
    ]
    full = spark.createDataFrame(docs, "doc_id bigint, text string")
    expected = {
        r["v"]: r["component"]
        for r in connected_components(
            minhash_dedup_pairs(full, "doc_id", "text", 0.5), "id_a", "id_b"
        ).collect()
    }
    assert expected, "fixture must produce at least one duplicate pair"

    sig = str(tmp_path / "sig")
    sh = str(tmp_path / "sh")
    root = str(tmp_path / "clusters")
    spark.createDataFrame(
        [], "doc_id bigint, band int, bkey string"
    ).write.parquet(sig)
    spark.createDataFrame(
        [], "doc_id bigint, sh array<string>"
    ).write.parquet(sh)
    init_cluster_store(spark, root)
    fn = clusters_foreach_batch(sig, sh, root, threshold=0.5)
    b0 = spark.createDataFrame(docs[:2], "doc_id bigint, text string")
    b1 = spark.createDataFrame(docs[2:4], "doc_id bigint, text string")
    b2 = spark.createDataFrame(docs[4:], "doc_id bigint, text string")
    fn(b0, 0)
    fn(b1, 1)
    fn(b2, 2)
    assert _live(spark, root) == expected
    sig_n = spark.read.parquet(sig).count()
    # at-least-once replay of the last batch: map and stores unchanged
    fn(b2, 2)
    assert _live(spark, root) == expected
    assert spark.read.parquet(sig).count() == sig_n


def test_streaming_end_to_end_file_source(spark, tmp_path):
    """The real Structured Streaming path: micro-batches arrive through a
    file source, clusters_foreach_batch maintains the map under the
    stream's own batch ids, and the final resolved map equals batch CC
    over everything that arrived — with inline compaction exercised
    mid-stream (compact_every=1)."""
    import json

    from cdc_rs_spark.operators.dedup import minhash_dedup_pairs

    docs = [
        (1, SHARED * 3),
        (2, SHARED * 3 + "tail one"),
        (3, "completely different text " * 8),
        (4, "completely different text " * 8 + " coda"),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for fname, rows in [("b1.json", docs[:2]), ("b2.json", docs[2:])]:
        with open(os.path.join(src, fname), "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    sig = str(tmp_path / "sig")
    sh = str(tmp_path / "sh")
    root = str(tmp_path / "clusters")
    spark.createDataFrame(
        [], "doc_id bigint, band int, bkey string"
    ).write.parquet(sig)
    spark.createDataFrame(
        [], "doc_id bigint, sh array<string>"
    ).write.parquet(sh)
    init_cluster_store(spark, root)
    stats_seen = []
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .writeStream.foreachBatch(
            clusters_foreach_batch(
                sig, sh, root, threshold=0.5, compact_every=1,
                on_stats=lambda s, b: stats_seen.append((b, s)),
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert len(stats_seen) == 2
    full = spark.createDataFrame(docs, "doc_id bigint, text string")
    expected = {
        r["v"]: r["component"]
        for r in connected_components(
            minhash_dedup_pairs(full, "doc_id", "text", 0.5), "id_a", "id_b"
        ).collect()
    }
    assert _live(spark, root) == expected
    # compact_every=1 really compacted after each pair-bearing fold
    meta = _read_meta(root)
    assert int(meta["base_epoch"]) >= 1 and meta["deltas"] == []


def test_pipeline_crash_between_append_and_fold_heals_on_replay(
    spark, tmp_path, monkeypatch
):
    """The round-8 ordering fix: stores append BEFORE the fold commits
    the ledger, so a crash after the append (fold never ran) leaves a
    replayable batch — the retry re-appends (bounded duplicates the
    candidate distinct absorbs) and folds; nothing is lost and the map
    matches batch CC. The first cut committed the ledger first and lost
    the batch's bands on exactly this crash."""
    import cdc_rs_spark.streaming.clusters as cl
    from cdc_rs_spark.operators.dedup import minhash_dedup_pairs

    docs = [
        (1, SHARED * 3),
        (2, SHARED * 3 + "tail one"),
        (6, SHARED * 3 + "tail two"),
    ]
    sig = str(tmp_path / "sig")
    sh = str(tmp_path / "sh")
    root = str(tmp_path / "clusters")
    spark.createDataFrame(
        [], "doc_id bigint, band int, bkey string"
    ).write.parquet(sig)
    spark.createDataFrame(
        [], "doc_id bigint, sh array<string>"
    ).write.parquet(sh)
    init_cluster_store(spark, root)
    fn = clusters_foreach_batch(sig, sh, root, threshold=0.5)
    fn(spark.createDataFrame(docs[:1], "doc_id bigint, text string"), 0)

    real_fold = cl.fold_pairs

    def crashing_fold(*a, **kw):
        raise RuntimeError("injected crash after store append")

    monkeypatch.setattr(cl, "fold_pairs", crashing_fold)
    b1 = spark.createDataFrame(docs[1:], "doc_id bigint, text string")
    with pytest.raises(RuntimeError, match="injected crash"):
        fn(b1, 1)
    monkeypatch.setattr(cl, "fold_pairs", real_fold)
    fn(b1, 1)  # the replay: re-appends + folds
    full = spark.createDataFrame(docs, "doc_id bigint, text string")
    expected = {
        r["v"]: r["component"]
        for r in connected_components(
            minhash_dedup_pairs(full, "doc_id", "text", 0.5), "id_a", "id_b"
        ).collect()
    }
    assert expected and _live(spark, root) == expected
    # and a NORMAL replay after commit appends nothing more
    n = spark.read.parquet(sig).count()
    fn(b1, 1)
    assert spark.read.parquet(sig).count() == n


def test_union_find_matches_distributed_cc(spark):
    """_union_find (driver path) and operators/graph.connected_components
    (distributed fallback) must compute the SAME labels on random graphs
    — the fold's two paths are interchangeable."""
    import random

    from cdc_rs_spark.streaming.clusters import _union_find

    rng = random.Random(88)
    for _ in range(5):
        edges = sorted(
            {tuple(sorted(rng.sample(range(60), 2))) for _ in range(45)}
        )
        want = _expected_cc(spark, edges)
        got = _union_find(edges)
        assert got == want


def test_translation_closure_chases_chains():
    from cdc_rs_spark.streaming.clusters import _closure

    # chains collapse; keys are unique by construction (a translated-away
    # root never becomes a root again)
    assert _closure([[9, 7], [7, 3], [3, 1]]) == {9: 1, 7: 1, 3: 1}
    assert _closure([]) == {}
    assert _closure([[5, 2], [8, 4]]) == {5: 2, 8: 4}
