"""Streaming NB count store (streaming/classifier.py): fold idempotence
under at-least-once replay, crash-residue purge, compaction equivalence
and epoch retention — the store disciplines every streaming surface here
shares, pinned on the classifier's sufficient-statistics store."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cdc_rs_spark.operators.classify import nb_score, nb_train_weights
from cdc_rs_spark.streaming.classifier import (
    classifier_foreach_batch,
    compact_count_store,
    fold_counts,
    init_count_store,
    read_counts,
    store_weights,
)
from cdc_rs_spark.streaming.store import read_sidecar


def _read_meta(root):
    return read_sidecar(root, "_add_meta.json")


def _toks(spark, rows):
    """rows: [(is_a, 'tok tok tok')]"""
    return (
        spark.createDataFrame(rows, "is_a boolean, lt string")
        .select("is_a", F.explode(F.split("lt", " ")).alias("token"))
        .filter(F.col("token") != "")
    )


def _counts_dict(spark, root):
    return {
        r["token"]: (r["c_a"], r["c_b"])
        for r in read_counts(spark, root).collect()
    }


def test_fold_replay_is_idempotent(spark, tmp_path):
    root = str(tmp_path / "nbc")
    init_count_store(spark, root)
    b0 = _toks(spark, [(True, "alpha alpha beta"), (False, "gamma")])
    st1 = fold_counts(b0, root, batch_id=0)
    assert st1 == {"n_tokens": 4, "skipped_duplicate": False}
    before = _counts_dict(spark, root)
    # at-least-once replay of the same epoch: ledger-skipped outright
    st2 = fold_counts(b0, root, batch_id=0)
    assert st2["skipped_duplicate"] is True
    assert _counts_dict(spark, root) == before
    assert before["alpha"] == (2, 0) and before["gamma"] == (0, 1)


def test_crashed_fold_residue_is_purged_on_retry(spark, tmp_path):
    """A fold that appended its segment but crashed BEFORE the ledger
    commit leaves a tag directory; the retry purges it and re-appends —
    no double counting."""
    root = str(tmp_path / "nbc")
    init_count_store(spark, root)
    b = _toks(spark, [(True, "alpha beta")])
    # simulate the crash: do the append half by hand (same tag), no commit
    from cdc_rs_spark.operators.classify import nb_token_counts

    (
        nb_token_counts(b)
        .withColumn("ingest", F.lit("s-0"))
        .write.mode("append")
        .partitionBy("ingest")
        .parquet(os.path.join(root, "seg-000000"))
    )
    assert _counts_dict(spark, root)["alpha"] == (1, 0)  # residue visible
    fold_counts(b, root, batch_id=0)  # the retry
    assert _counts_dict(spark, root)["alpha"] == (1, 0)  # not doubled


def test_compaction_is_model_invisible_and_expires_epochs(spark, tmp_path):
    root = str(tmp_path / "nbc")
    init_count_store(spark, root)
    fold_counts(_toks(spark, [(True, "alpha beta beta")]), root, batch_id=0)
    fold_counts(_toks(spark, [(False, "beta gamma")]), root, batch_id=1)
    before = _counts_dict(spark, root)
    w_before, n_before = store_weights(spark, root)
    wb = sorted(tuple(r) for r in w_before.collect())
    n0 = n_before.collect()[0]["w0"]
    n_tokens = compact_count_store(spark, root)
    assert n_tokens == len(before)
    assert _counts_dict(spark, root) == before
    w_after, n_after = store_weights(spark, root)
    assert sorted(tuple(r) for r in w_after.collect()) == wb
    assert n_after.collect()[0]["w0"] == n0
    # epoch retention: keep_epochs=2 keeps 0 and 1 now; two more compacts
    # expire epoch 0
    compact_count_store(spark, root)
    compact_count_store(spark, root)
    epochs = sorted(
        n for n in os.listdir(root) if n.startswith("seg-")
    )
    assert epochs == ["seg-000001", "seg-000002", "seg-000003"]
    assert _counts_dict(spark, root) == before


def test_incremental_weights_equal_batch_training(spark, tmp_path):
    """The served model is bit-identical to batch training on the
    unioned corpus — the registered query's claim, pinned here on a
    crafted corpus with folds split across a compaction."""
    root = str(tmp_path / "nbc")
    init_count_store(spark, root)
    part1 = [(True, "alpha beta common"), (False, "gamma common")]
    part2 = [(True, "alpha alpha"), (False, "delta common common")]
    fold_counts(_toks(spark, part1), root, batch_id=0)
    compact_count_store(spark, root)
    fold_counts(_toks(spark, part2), root, batch_id=1)
    w_inc, n_inc = store_weights(spark, root)
    w_bat, n_bat = nb_train_weights(_toks(spark, part1 + part2))
    assert sorted(tuple(r) for r in w_inc.collect()) == sorted(
        tuple(r) for r in w_bat.collect()
    )
    assert n_inc.collect() == n_bat.collect()
    # and the scored verdicts agree end to end
    test = spark.createDataFrame(
        [(1, True, "alpha"), (2, False, "gamma zzz")],
        "doc_id long, is_a boolean, lt string",
    ).select(
        "doc_id", "is_a", F.explode(F.split("lt", " ")).alias("token")
    )
    si = {r["doc_id"]: r["s_milli"] for r in nb_score(test, w_inc, n_inc).collect()}
    sb = {r["doc_id"]: r["s_milli"] for r in nb_score(test, w_bat, n_bat).collect()}
    assert si == sb


def test_foreach_batch_adapter_folds_and_compacts(spark, tmp_path):
    root = str(tmp_path / "nbc")
    init_count_store(spark, root)
    fn = classifier_foreach_batch(root, compact_every=2)
    b = spark.createDataFrame(
        [(True, "alpha"), (False, "beta")], "is_a boolean, lt string"
    ).select("is_a", F.explode(F.split("lt", " ")).alias("token"))
    fn(b, 0)
    fn(b, 1)  # triggers the compaction (n_folds == 2)
    meta = _read_meta(root)
    assert meta["n_folds"] == 2 and meta["epoch"] == 1
    fn(b, 1)  # replay after compaction: ledger-skipped
    assert _counts_dict(spark, root)["alpha"] == (2, 0)


def test_compaction_preserves_uncommitted_residue_for_retry_purge(
    spark, tmp_path
):
    """The ivf.py round-7 laundering bug, pinned shut on the additive
    store at birth: a fold that appended its segment but crashed BEFORE
    the ledger commit, followed by a COMPACTION, must leave the residue
    as its own preserved partition in the new epoch — summing it into
    'compact' would make it permanent and the retry's re-append would
    double-count."""
    root = str(tmp_path / "nbc")
    init_count_store(spark, root)
    fold_counts(_toks(spark, [(True, "alpha")]), root, batch_id=0)
    # crashed batch 1: segment appended, no ledger commit
    from cdc_rs_spark.operators.classify import nb_token_counts

    (
        nb_token_counts(_toks(spark, [(True, "alpha beta")]))
        .withColumn("ingest", F.lit("s-1"))
        .write.mode("append")
        .partitionBy("ingest")
        .parquet(os.path.join(root, "seg-000000"))
    )
    compact_count_store(spark, root)
    # the residue survived the rewrite as ITS OWN tag, not inside compact
    seg1 = spark.read.parquet(os.path.join(root, "seg-000001"))
    tags = {r["ingest"] for r in seg1.select("ingest").distinct().collect()}
    assert tags == {"compact", "s-1"}, tags
    # the retry purges it in the NEW epoch and re-appends exactly once
    fold_counts(_toks(spark, [(True, "alpha beta")]), root, batch_id=1)
    assert _counts_dict(spark, root)["alpha"] == (2, 0)
    assert _counts_dict(spark, root)["beta"] == (1, 0)
    # and a replay after everything is still a no-op
    st = fold_counts(_toks(spark, [(True, "alpha beta")]), root, batch_id=1)
    assert st["skipped_duplicate"] is True
    assert _counts_dict(spark, root)["alpha"] == (2, 0)
