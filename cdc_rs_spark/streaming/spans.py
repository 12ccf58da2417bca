"""Incremental (streaming) exact-substring dedup against a persisted span
store — the ingestion-time shape of dedup_exact_substring_spans (Lee et
al. 2021 ExactSubstr), same pattern as streaming/dedup.py's persisted LSH
band store: documents arrive as a stream, each micro-batch's windows are
checked against the EXISTING corpus' windows plus the batch's own
cross-document collisions, and the batch's windows are appended so later
batches are caught.

Two store layouts:

  LEGACY (round 7): one bare parquet directory of (span, doc_id) rows,
  append-only, pre-created by the caller. Kept working verbatim.

  EPOCH'D: a root directory holding store-NNNNNN epoch subdirectories
  plus a _span_meta.json sidecar {epoch, hashed, last_batch_by_stream},
  with streaming/store.py's ledger, publication and retention. Appends
  land in the live epoch; compact_span_store() rewrites the live epoch
  DISTINCT into a NEW epoch. This store adds: a replayed batch id still
  PROBES and re-emits its report (at-least-once delivery downstream) but
  skips the append, and a crash between append and ledger commit leaves
  duplicate rows, which existence semantics ignore and the next
  compaction collapses.

Keys (round 8): `hashed=True` stores (h1, h2, doc_id) instead of the raw
40-char span — h1 = xxhash64(span), h2 = xxhash64(seed2, span), two
INDEPENDENT 64-bit keys, 16 bytes a row instead of ~40 chars. The second
hash IS the verify join: a candidate duplicate must match on BOTH keys,
so a false positive needs a simultaneous 2^-64 x 2^-64 collision —
~1e-39 per pair, negligible at any corpus size (a raw-span recheck would
need the original document text, which the store deliberately does not
carry). Hash VALUES are engine-specific (xxhash64), so the DuckDB oracle
checks the hashed path by REPORT equality with the raw-span SQL — equal
per-doc counts absent collisions, which the dual key guarantees.

Scale: per micro-batch work is |batch| x len/stride skinny rows joined
against the store on the key — never a corpus self-scan. At warehouse
scale the store is bucketed by the key hash so the probe join co-locates.
Idempotence: the probe is EXISTENCE-based (semi-join on another doc's
span), so an at-least-once replay appending duplicate (key, doc_id) rows
cannot change any report.

No counterpart in the reference (its stream is CDC rows, not documents) —
this is the EXTENSION family's streaming form.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cdc_rs_spark.operators.dedup import doc_spans
from cdc_rs_spark.streaming.store import (
    append_tombstones,
    drop_tombstoned,
    expire_epochs,
    ledger_done,
    publish,
    read_sidecar,
    readmit_tombstones,
    read_tombstones,
    write_sidecar,
)

_SPAN_META = "_span_meta.json"
_H2_SEED = 0x5BD1E995  # any constant != xxhash64's default seed path


def span_keys(
    d: DataFrame, hashed: bool, sampler=doc_spans
) -> tuple[DataFrame, list[str]]:
    """Window the documents and project the store key: the raw span, or
    the dual xxhash64 pair (see module doc). Returns (frame with doc_id +
    key columns, key column names). `sampler` picks the window grid —
    doc_spans (stride) or operators/dedup.doc_anchor_spans (round 9:
    content-defined anchors, shift-invariant); everything downstream of
    the sampler is grid-agnostic because a window is a window."""
    spans = sampler(d)
    if not hashed:
        return spans.select("doc_id", "span"), ["span"]
    return (
        spans.select(
            "doc_id",
            F.xxhash64("span").alias("h1"),
            F.xxhash64(F.lit(_H2_SEED), F.col("span")).alias("h2"),
        ),
        ["h1", "h2"],
    )


def _probe_keyed(
    keyed_batch: DataFrame, span_store: DataFrame, keys: list[str]
) -> DataFrame:
    """Shared probe core over an arbitrary key tuple: per batch document,
    count the windows whose key exists under ANOTHER doc_id — in the
    persisted store or elsewhere in this batch. Returns (doc_id, n_spans,
    n_dup_spans, dup_frac) for affected docs.

    Shape: one aggregate to (key, doc_id) counts; the store probe is a
    per-key (min_doc, max_doc) aggregate joined 1:1 — existence of
    ANOTHER doc is `matched and not (min==max==this doc)`, so a
    boilerplate span stored under a million docs joins as ONE row instead
    of exploding (the skew case a plain store join would hit), and a
    replayed doc can never match its own stored spans."""
    pair = keyed_batch.groupBy(*keys, "doc_id").agg(F.count("*").alias("k"))
    # intra-batch: how many batch docs carry each key
    batch_freq = pair.groupBy(*keys).agg(F.count("*").alias("nd_batch"))
    # restrict the store scan to the BATCH's keys before aggregating:
    # without the semi-filter the min/max aggregate hashes the whole
    # append-only store every micro-batch — O(|store|) per batch,
    # O(stream^2) over its life (round-7 review). No forced broadcast
    # hint: a micro-batch's distinct keys sit far under the
    # auto-broadcast threshold so the planner broadcasts them anyway,
    # while a corpus-sized caller (dedup_span_store_probe hands half the
    # fixture as the "batch") degrades to a shuffled semi-join instead
    # of blowing the 8 GB broadcast limit (second-pass review).
    batch_keys = pair.select(*keys).distinct()
    store_agg = (
        span_store.join(batch_keys, keys)
        .groupBy(*keys)
        .agg(F.min("doc_id").alias("d_min"), F.max("doc_id").alias("d_max"))
    )
    joined = pair.join(store_agg, keys, "left").join(batch_freq, keys)
    in_store = F.col("d_min").isNotNull() & ~(
        (F.col("d_min") == F.col("doc_id"))
        & (F.col("d_max") == F.col("doc_id"))
    )
    dup = in_store | (F.col("nd_batch") >= 2)
    dup_k = F.sum(F.when(dup, F.col("k")).otherwise(F.lit(0)))
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_spans"),
            dup_k.cast("bigint").alias("n_dup_spans"),
            F.round(dup_k.cast("double") / F.sum("k"), 6).alias("dup_frac"),
        )
        .filter(F.col("n_dup_spans") > 0)
    )


def probe_spans_against_store(
    new_docs: DataFrame, span_store: DataFrame, sampler=doc_spans
) -> DataFrame:
    """Raw-span probe (the round-7 surface, unchanged semantics): window
    the new docs and report per-doc duplicated-window counts against a
    (span, doc_id) store. Pure DataFrame logic — usable in batch or
    inside foreachBatch. The store must have been built with the SAME
    `sampler` (grids don't mix — an anchored window never equals a
    stride window unless the text aligns)."""
    keyed, keys = span_keys(new_docs, hashed=False, sampler=sampler)
    return _probe_keyed(keyed, span_store, keys)


def probe_hashed_spans_against_store(
    new_docs: DataFrame, span_store: DataFrame, sampler=doc_spans
) -> DataFrame:
    """Dual-hash probe against an (h1, h2, doc_id) store — same report as
    the raw-span probe absent a simultaneous two-key collision (see
    module doc for the 1e-39 bound)."""
    keyed, keys = span_keys(new_docs, hashed=True, sampler=sampler)
    return _probe_keyed(keyed, span_store, keys)


# ---- epoch'd store (round 8) ------------------------------------------------


def _epoch_path(root: str, epoch: int) -> str:
    return os.path.join(root, f"store-{epoch:06d}")


def _store_schema(hashed: bool) -> str:
    return (
        "h1 bigint, h2 bigint, doc_id bigint"
        if hashed
        else "span string, doc_id bigint"
    )


def is_epoch_store(root: str) -> bool:
    return os.path.exists(os.path.join(root, _SPAN_META))


def init_span_store(
    spark: SparkSession, root: str, hashed: bool = False
) -> dict:
    """Create an empty epoch'd span store (idempotent: an existing store
    is returned as-is). The epoch-0 directory is written with the store
    schema so the first batch's read needs no special case."""
    if is_epoch_store(root):
        return read_sidecar(root, _SPAN_META)
    os.makedirs(root, exist_ok=True)
    spark.createDataFrame([], _store_schema(hashed)).write.mode(
        "overwrite"
    ).parquet(_epoch_path(root, 0))
    meta = {"epoch": 0, "hashed": bool(hashed), "last_batch_by_stream": {}}
    write_sidecar(root, _SPAN_META, meta)
    return meta


def span_tombstones(spark: SparkSession, root: str) -> DataFrame:
    """The cumulative removed-doc set — one skinny (doc_id) parquet dir.
    Bounded by total deletes."""
    return read_tombstones(spark, root, _SPAN_META, "doc_id")


def remove_docs_from_span_store(
    spark: SparkSession,
    root: str,
    removed: DataFrame,
    batch_id: int | None = None,
    stream_id: str = "d",
) -> dict:
    """CDC-delete fold for the span store: a removed doc's windows must
    stop witnessing duplication — probes are EXISTENCE-based (a span is
    'duplicated' if another doc holds it), so a forgotten doc's rows
    lingering in the store would keep flagging other docs against
    content that no longer exists. The doc ids join the tombstone set
    under the '{stream_id}!rm' ledger line. Removal by doc_id needs no
    span recompute — span rows are (key, doc_id) facts, not a graph."""
    key = f"{stream_id}!rm"
    if ledger_done(read_sidecar(root, _SPAN_META), key, batch_id):
        return {"n_removed": 0, "skipped_duplicate": True}
    removed = removed.select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    ).distinct()
    n = removed.count()
    append_tombstones(removed, root, _SPAN_META)
    publish(root, _SPAN_META, key=key, batch_id=batch_id)
    return {"n_removed": int(n), "skipped_duplicate": False}


def readmit_docs_to_span_store(
    spark: SparkSession,
    root: str,
    readmitted: DataFrame,
    batch_id: int | None = None,
    stream_id: str = "d",
) -> dict:
    """TOMBSTONE-CLEAR / re-admit fold: remove doc ids from the tombstone
    set so future span folds may re-index them, ledgered under
    '{stream_id}!ra'. Restores no rows by itself (compaction erased
    them — re-ingestion is the only way back, with never-seen
    semantics)."""
    return readmit_tombstones(
        spark, root, _SPAN_META, "doc_id", readmitted,
        key=f"{stream_id}!ra", batch_id=batch_id,
    )


def live_span_store(spark: SparkSession, root: str) -> DataFrame:
    """The live epoch's rows, tombstoned docs' rows anti-joined out
    (scan-free before the first removal)."""
    meta = read_sidecar(root, _SPAN_META)
    rows = spark.read.parquet(_epoch_path(root, int(meta["epoch"])))
    return drop_tombstoned(rows, root, _SPAN_META, "doc_id")


def compact_span_store(
    spark: SparkSession, root: str, keep_epochs: int = 2
) -> int:
    """DISTINCT-rewrite the live epoch into a NEW epoch — bounding the
    store at its distinct (key, doc_id) size no matter how many
    duplicate rows replays and crash-retries appended — and erase
    tombstoned docs' rows on the way. WRITER-EXCLUSIVE: run it from the
    ingest loop (spans_foreach_batch's compact_every does) or with
    ingest paused. Returns the distinct row count published."""
    if not is_epoch_store(root):
        raise ValueError(
            f"{root} is a legacy bare-parquet span store; compaction "
            "requires the epoch'd layout (init_span_store). Migrate by "
            "writing its rows into a fresh epoch'd root."
        )
    epoch = int(read_sidecar(root, _SPAN_META)["epoch"])
    new_epoch = epoch + 1
    obs = Observation()
    # physical erasure of tombstoned docs' rows rides the rewrite; the
    # tombstone set keeps filtering reads of the retained superseded
    # epochs until they expire
    rows = drop_tombstoned(
        spark.read.parquet(_epoch_path(root, epoch)).distinct(),
        root, _SPAN_META, "doc_id",
    )
    (
        rows.observe(obs, F.count(F.lit(1)).alias("n"))
        # overwrite clears a crashed prior attempt's residue (the dir is
        # unpublished until the sidecar flip below)
        .write.mode("overwrite")
        .parquet(_epoch_path(root, new_epoch))
    )
    n = int(obs.get["n"])
    publish(root, _SPAN_META, epoch=new_epoch)
    expire_epochs(root, r"store-(\d+)", new_epoch - keep_epochs)
    return n


def spans_foreach_batch(
    span_store_path: str,
    on_report: Callable[[DataFrame, int], None] | None = None,
    hashed: bool = False,
    compact_every: int | None = None,
    stream_id: str = "s",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch form: per micro-batch of (doc_id, text), probe the
    span store, hand the duplication report to `on_report(df, batch_id)`,
    then append the batch's own DISTINCT key rows so later batches (and
    later duplicates of these docs) are caught.

    Store bootstrap: if `span_store_path` does not exist yet it is
    created as an EPOCH'D store on the first batch. A path that already
    holds a legacy bare-parquet store keeps the legacy behavior
    verbatim: plain appends, `hashed`/`compact_every` must be off.

    Epoch'd extras: `compact_every=N` runs compact_span_store after
    every N appended batches (the DISTINCT-rewrite bounds the store
    under replays); a replayed batch id skips the APPEND but still
    emits its report — existence semantics make the report identical
    either way. Point a FRESH checkpoint at an existing store with a
    NEW `stream_id`, or its restarted batch 0 would be ledger-skipped.
    """
    if compact_every is not None and compact_every < 1:
        raise ValueError("compact_every must be >= 1 or None")

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        legacy = os.path.exists(span_store_path) and not is_epoch_store(
            span_store_path
        )
        if legacy:
            if hashed or compact_every is not None:
                raise ValueError(
                    "hashed keys / compaction need the epoch'd store "
                    f"layout, but {span_store_path} is a legacy "
                    "bare-parquet store"
                )
            store = spark.read.parquet(span_store_path)
            report = probe_spans_against_store(batch_df, store)
            if on_report is not None:
                on_report(report, batch_id)
            keyed, keys = span_keys(batch_df, hashed=False)
            keyed.select(*keys, "doc_id").distinct().write.mode(
                "append"
            ).parquet(span_store_path)
            return
        meta = init_span_store(spark, span_store_path, hashed=hashed)
        if bool(meta.get("hashed", False)) != bool(hashed):
            raise ValueError(
                f"store {span_store_path} was created with "
                f"hashed={meta.get('hashed')}, got hashed={hashed}"
            )
        store = live_span_store(spark, span_store_path)
        keyed, keys = span_keys(batch_df, hashed=hashed)
        report = _probe_keyed(keyed, store, keys)
        if on_report is not None:
            on_report(report, batch_id)
        if ledger_done(meta, stream_id, batch_id):
            return  # replay: report re-emitted above, append skipped
        keyed.select(*keys, "doc_id").distinct().write.mode(
            "append"
        ).parquet(_epoch_path(span_store_path, int(meta["epoch"])))
        meta = publish(
            span_store_path, _SPAN_META,
            key=stream_id, batch_id=batch_id, bump=("n_appends",),
        )
        if compact_every is not None and meta["n_appends"] % compact_every == 0:
            compact_span_store(spark, span_store_path)

    return fn
