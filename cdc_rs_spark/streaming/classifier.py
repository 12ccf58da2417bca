"""Incremental (streaming) classifier training — the streaming form of
operators/classify.py's Naive-Bayes quality filter: labeled documents
arrive as a stream, each micro-batch's token counts are folded into a
persisted count store, and the model served at any moment is EXACTLY the
batch model trained on everything folded so far. This is the online
retraining loop a production quality filter runs (label a trickle of
documents, keep the filter fresh) at per-batch cost.

Why this is exact where most online learners are approximate: the NB
family's ENTIRE trained state is the (token, c_a, c_b) sufficient
statistics — additive integers. Folding a batch is appending its partial
counts; training is summing them. No gradient, no ordering sensitivity,
no drift between incremental and batch — the equivalence the registered
query text_nb_incremental_classifier oracle-checks against the SAME SQL
as the batch text_nb_source_classifier.

The store is an instance of streaming/additive.py's generic log-
structured additive store (shared with the count-min sketch grid —
SUM-mergeable state is one algebra, stored once): ledger-gated replay
idempotence, purge-on-retry crash recovery, epoch-published compaction.

Per-batch cost: ONE map-side-combinable aggregation over the batch's
tokens plus an O(|batch vocab|) segment write. Nothing reads the store
on the fold path; weight reads aggregate |vocab| x n_segments rows,
bounded by compaction cadence. At 100 TB the labeled stream is tiny by
construction (labels are the expensive resource) — the corpus-sized work
stays in the SCORING pass, which is unchanged from the batch form.

No counterpart in the reference (its stream is CDC rows, not labeled
documents) — the EXTENSION family's streaming form, completing the set
with streaming/dedup.py, streaming/spans.py, streaming/clusters.py and
streaming/ivf.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cdc_rs_spark.operators.classify import (
    nb_token_counts,
    nb_weights_from_counts,
)
from cdc_rs_spark.streaming.additive import (
    _META,
    compact_additive_store,
    fold_segment,
    init_additive_store,
    read_merged,
    retract_segment,
)
from cdc_rs_spark.streaming.store import read_sidecar


def init_count_store(spark: SparkSession, root: str) -> dict:
    """Create an empty (token, c_a, c_b) store."""
    return init_additive_store(
        spark, root, {"token": "string"}, ["c_a", "c_b"]
    )


def fold_counts(
    train_toks: DataFrame,
    root: str,
    batch_id: int | None = None,
    stream_id: str = "s",
) -> dict:
    """Fold one micro-batch of labeled tokens (is_a: bool, token: string;
    pre-tokenized, empty tokens already filtered) into the store: ONE
    partial-count aggregation, ONE segment append. Returns {n_tokens,
    skipped_duplicate}."""
    from pyspark.sql import functions as F

    partial = nb_token_counts(train_toks).withColumn(
        "_vol", F.col("c_a") + F.col("c_b")
    )
    stats = fold_segment(
        partial,
        root,
        batch_id=batch_id,
        stream_id=stream_id,
        volume_col="_vol",  # report token volume, riding the write job
    )
    return {
        "n_tokens": stats["n_keys"],
        "skipped_duplicate": stats["skipped_duplicate"],
    }


def retract_counts(
    train_toks: DataFrame,
    root: str,
    batch_id: int | None = None,
    stream_id: str = "s",
) -> dict:
    """Un-train one batch of labeled tokens — the CDC-delete path
    (round 10, VERDICT r9 next #1). The caller rebuilds the SAME
    (is_a, token) rows from the deleted documents' BEFORE-IMAGES that
    fold_counts saw at insert time; the additive store appends the
    negated partial and integer SUM cancels it exactly. Because the NB
    state is a group fold, the model after any fold/retract interleaving
    is BIT-IDENTICAL to batch training on the surviving corpus — the
    equivalence text_nb_retraction_classifier oracle-checks. A
    forgotten document leaves NO trace in the trained weights (the GDPR
    property gdpr_forget_end_to_end audits)."""
    from pyspark.sql import functions as F

    partial = nb_token_counts(train_toks).withColumn(
        "_vol", F.col("c_a") + F.col("c_b")
    )
    stats = retract_segment(
        partial,
        root,
        batch_id=batch_id,
        stream_id=stream_id,
        volume_col="_vol",
    )
    return {
        "n_tokens": stats["n_keys"],
        "skipped_duplicate": stats["skipped_duplicate"],
    }


def read_counts(spark: SparkSession, root: str) -> DataFrame:
    """The merged sufficient statistics: SUM across segments. Tokens
    whose counts have been fully retracted (c_a + c_b = 0) DROP from
    the result — they are no longer in the surviving corpus, so keeping
    them would inflate the vocabulary size V and shift every smoothed
    weight away from the batch model. A no-op before the first
    retraction (a counted token is positive by construction)."""
    from pyspark.sql import functions as F

    return read_merged(spark, root).filter(
        (F.col("c_a") + F.col("c_b")) > 0
    )


def store_weights(
    spark: SparkSession, root: str
) -> tuple[DataFrame, DataFrame]:
    """The model trained on everything folded so far — identical algebra
    to operators/classify.nb_train_weights on the unioned corpus."""
    return nb_weights_from_counts(read_counts(spark, root))


def compact_count_store(
    spark: SparkSession, root: str, keep_epochs: int = 2
) -> int:
    """Epoch-published DISTINCT rewrite (streaming/additive.py). Returns
    the compacted vocabulary size."""
    return compact_additive_store(spark, root, keep_epochs=keep_epochs)


def classifier_foreach_batch(
    root: str,
    compact_every: int | None = None,
    stream_id: str = "s",
):
    """foreachBatch adapter: batches of (is_a, token) rows fold into the
    store; compaction every `compact_every` folds. Ledger-gated like
    every streaming store here, so at-least-once replays are no-ops."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        stats = fold_counts(
            batch_df, root, batch_id=batch_id, stream_id=stream_id
        )
        if (
            not stats["skipped_duplicate"]
            and compact_every is not None
            and int(read_sidecar(root, _META)["n_folds"]) % compact_every == 0
        ):
            compact_count_store(batch_df.sparkSession, root)

    return fn
