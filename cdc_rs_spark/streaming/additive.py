"""Generic log-structured MONOID-STATE store: the shared machinery
behind every streaming surface here whose state merges by an
associative, commutative, order-independent bigint monoid: SUM
(classifier sufficient statistics, count-min sketch grids, counter
tables) or MAX (HLL registers, high-water marks). Per-batch partial
aggregates append as immutable segments, reads fold the monoid across
segments, and compaction rewrites the folded table into a new epoch.

Why SUM-mergeable state gets its own store: it is the one state algebra
where the streaming form is EXACT by construction. Segment boundaries
are invisible under an associative, commutative, order-independent merge
(integer addition), so the served state equals the batch computation on
the unioned input, always. Ledger, publication and retention follow
streaming/store.py; this store adds:

  - purge on retry: a retry of a crashed fold purges its own ingest=TAG
    partition directory before re-appending;
  - bootstrap: the store is born with an empty epoch-0 segment table so
    first reads need no existence special-case.

Layout: root/seg-EEEEEE/ (parquet, PARTITIONED BY ingest) + _add_meta.json
{epoch, last_batch_by_stream, n_folds, seq, key_cols, sum_cols}.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cdc_rs_spark.streaming.store import (
    expire_epochs,
    ledger_done,
    publish,
    read_sidecar,
    uncommitted_tags,
    write_sidecar,
)

_META = "_add_meta.json"
_SEG_EPOCH = r"seg-(\d+)"


def _seg_path(root: str, epoch: int) -> str:
    return os.path.join(root, f"seg-{epoch:06d}")


def _merge_fn(meta: dict):
    """The store's monoid: SUM (counters — the original algebra) or MAX
    (HLL registers, high-water marks). Both are associative, commutative
    and order-independent over bigint, so segment boundaries stay
    invisible and the streaming form stays EXACT by construction; MAX is
    additionally idempotent, but the ledger discipline is kept identical
    (a skipped duplicate fold is cheaper than a re-read either way).
    Stores written before the `merge` key existed are SUM stores."""
    return F.max if meta.get("merge", "sum") == "max" else F.sum


def init_additive_store(
    spark: SparkSession,
    root: str,
    key_cols: dict[str, str],
    sum_cols: list[str],
    merge: str = "sum",
) -> dict:
    """`key_cols`: {name: spark_type} of the state's key columns;
    `sum_cols`: the bigint state columns merged by the `merge` monoid
    ("sum" for counters, "max" for register/high-water state)."""
    if merge not in ("sum", "max"):
        raise ValueError(f"unsupported merge monoid: {merge!r}")
    os.makedirs(root, exist_ok=True)
    schema = ", ".join(
        [f"{c} {t}" for c, t in key_cols.items()]
        + [f"{c} bigint" for c in sum_cols]
        + ["ingest string"]
    )
    spark.createDataFrame([], schema).write.mode("overwrite").partitionBy(
        "ingest"
    ).parquet(_seg_path(root, 0))
    meta = {
        "epoch": 0,
        "last_batch_by_stream": {},
        "n_folds": 0,
        "seq": 0,
        "key_cols": list(key_cols),
        "sum_cols": list(sum_cols),
        "merge": merge,
        # full segment schema: an all-forgotten rebuild (or an empty
        # bootstrap epoch) writes zero data files, which schema
        # inference rejects — explicit-schema reads stay robust
        "schema": schema,
    }
    write_sidecar(root, _META, meta)
    return meta


def _read_seg(spark: SparkSession, root: str, meta: dict) -> DataFrame:
    """The live epoch's segments, read with the meta-recorded schema
    when available (stores written before the `schema` key existed fall
    back to inference)."""
    reader = spark.read
    if meta.get("schema"):
        reader = reader.schema(meta["schema"])
    return reader.parquet(_seg_path(root, int(meta["epoch"])))


def _purge_ingest(seg_path: str, ingest: str) -> None:
    p = os.path.join(seg_path, f"ingest={ingest}")
    if os.path.isdir(p):
        shutil.rmtree(p)


def fold_segment(
    partial: DataFrame,
    root: str,
    batch_id: int | None = None,
    stream_id: str = "s",
    volume_col: str | None = None,
) -> dict:
    """Append one batch's PARTIAL AGGREGATE (already grouped on the key
    columns — one row per touched key) as a segment. Returns {n_keys,
    skipped_duplicate}; with `volume_col` set, n_keys carries that
    column's SUM instead of the row count (the column itself is dropped
    before the write — it is a reporting vehicle riding the write job,
    not state)."""
    meta = read_sidecar(root, _META)
    if ledger_done(meta, stream_id, batch_id):
        return {"n_keys": 0, "skipped_duplicate": True}
    path = _seg_path(root, int(meta["epoch"]))
    ingest = (
        f"{stream_id}-{batch_id}"
        if batch_id is not None
        else f"f-{int(meta['seq']) + 1}"
    )
    _purge_ingest(path, ingest)  # crashed prior attempt's residue
    obs = Observation()
    measure = (
        F.sum(volume_col) if volume_col else F.count(F.lit(1))
    ).alias("n")
    out = partial.observe(obs, measure)
    if volume_col:
        out = out.drop(volume_col)
    (
        out.withColumn("ingest", F.lit(ingest))
        .coalesce(1)  # one |touched keys|-row segment file
        .write.mode("append")
        .partitionBy("ingest")
        .parquet(path)
    )
    got = obs.get["n"]
    n = int(got) if got is not None else 0
    publish(
        root, _META, key=stream_id, batch_id=batch_id,
        bump=("n_folds",) if batch_id is not None else ("n_folds", "seq"),
    )
    return {"n_keys": n, "skipped_duplicate": False}


def retract_segment(
    partial: DataFrame,
    root: str,
    batch_id: int | None = None,
    stream_id: str = "s",
    volume_col: str | None = None,
) -> dict:
    """Fold the INVERSE of one batch's partial aggregate — the
    retraction path (round 10, VERDICT r9 next #1). SUM over bigint is
    a GROUP, not merely a monoid: every element has an exact inverse
    (negation), so retracting previously-folded state is just appending
    the negated partial and letting the same fold algebra cancel it —
    bit-exact, order-independent, and idempotent under the same ledger
    discipline as fold_segment (a replayed retraction batch is skipped
    outright). This is the CDC delete op (reference src/main.rs:46-53
    makes Delete first-class with a before-image; the streaming stores
    now honor it the way the batch layer's cdc_retraction_algebra
    already does).

    MAX stores refuse: MAX has no inverse (an HLL register or
    high-water mark cannot un-observe a value) — retraction there
    requires a rebuild, which compaction-from-source provides. Callers
    pass the SAME partial they would have folded for the insert (built
    from the delete's before-image); negation happens here so call
    sites read symmetrically."""
    meta = read_sidecar(root, _META)
    if meta.get("merge", "sum") != "sum":
        raise ValueError(
            "retract_segment requires the SUM monoid (a group); "
            f"this store merges by {meta.get('merge')!r} — use "
            "rebuild_additive_store (epoch rebuild from surviving rows) "
            "for non-invertible monoids"
        )
    neg = partial.select(
        *meta["key_cols"],
        *[(-F.col(c)).cast("bigint").alias(c) for c in meta["sum_cols"]],
        *([volume_col] if volume_col else []),
    )
    return fold_segment(
        neg,
        root,
        batch_id=batch_id,
        stream_id=stream_id,
        volume_col=volume_col,
    )


def _fold_keys(df: DataFrame, meta: dict) -> DataFrame:
    """The store's monoid folded per key."""
    op = _merge_fn(meta)
    return df.groupBy(*meta["key_cols"]).agg(
        *[op(c).cast("bigint").alias(c) for c in meta["sum_cols"]]
    )


def read_merged(spark: SparkSession, root: str) -> DataFrame:
    """The merged state: the monoid folded across segments, one
    map-side-combinable aggregation over |keys| x n_segments rows
    (bounded by compaction cadence)."""
    meta = read_sidecar(root, _META)
    return _fold_keys(_read_seg(spark, root, meta), meta)


def rebuild_additive_store(
    spark: SparkSession,
    root: str,
    surviving_partial: DataFrame,
    batch_id: int | None = None,
    stream_id: str = "s",
    keep_epochs: int = 2,
) -> dict:
    """EPOCH-REBUILD RETRACTION for non-invertible monoids: MAX has no
    inverse — an HLL register cannot un-observe a value, a high-water
    mark cannot recede — so deletes reach a MAX store by REBUILD, not
    cancellation. The caller recomputes the partial aggregate over the
    SURVIVING rows (corpus minus the forget cohort — exactly what it
    would have folded had the cohort never arrived) and this publishes
    it as the new epoch's ENTIRE committed state, ledgered like a fold;
    uncommitted crash residue is preserved verbatim, so an in-flight
    retry still heals. Register-exact by construction: the post-rebuild
    state is bit-identical to a store that never saw the forgotten rows.

    This runs on TAKEDOWN cadence (GDPR/DMCA), never per batch: one
    aggregation over surviving rows is what exact forgetting of a
    non-invertible sketch costs (SUM stores keep the cheaper
    request-bounded retract_segment). Works for any monoid."""
    meta = read_sidecar(root, _META)
    if ledger_done(meta, stream_id, batch_id):
        return {"n_keys": 0, "skipped_duplicate": True}
    state = surviving_partial.select(
        *meta["key_cols"],
        *[F.col(c).cast("bigint").alias(c) for c in meta["sum_cols"]],
    )
    n = _rewrite_epoch(
        spark, root, meta, keep_epochs, state,
        key=stream_id, batch_id=batch_id, bump=("n_folds",),
    )
    return {"n_keys": n, "skipped_duplicate": False}


def compact_additive_store(
    spark: SparkSession, root: str, keep_epochs: int = 2
) -> int:
    """Rewrite the COMMITTED segments' merge into ONE 'compact' segment
    in a NEW epoch. Returns the compacted distinct-key count. Segments
    above their ledger line (a crashed fold's residue) stay their own
    partitions (store.uncommitted_tags); committed tags, batch-less
    'f-{n}' tags at or below the seq watermark and prior 'compact' bases
    collapse. WRITER-EXCLUSIVE: run it from the ingest loop
    (classifier_foreach_batch does) or with ingest paused."""
    meta = read_sidecar(root, _META)
    return _rewrite_epoch(spark, root, meta, keep_epochs)


def _rewrite_epoch(
    spark: SparkSession,
    root: str,
    meta: dict,
    keep_epochs: int,
    state: DataFrame | None = None,
    **publish_kw,
) -> int:
    """Write `state` (default: the live epoch's committed segments)
    merged per key as the 'compact' segment of a NEW epoch, beside the
    live epoch's uncommitted partitions verbatim; publish the epoch
    (with `publish_kw`'s ledger commit) and expire old ones. Returns the
    compacted distinct-key count. Batch-less `f-{n}` tags are committed
    up to the `seq` watermark."""
    new_epoch = int(meta["epoch"]) + 1
    segs = _read_seg(spark, root, meta)
    uncommitted = uncommitted_tags(
        meta, "f", int(meta.get("seq", 0)), base_tags=("compact",)
    )
    if state is None:
        state = segs.filter(~uncommitted)
    base = (
        _fold_keys(state, meta)
        .withColumn("ingest", F.lit("compact"))
        .coalesce(1)
    )
    passthru = segs.filter(uncommitted).select(
        *meta["key_cols"], *meta["sum_cols"], "ingest"
    )
    obs = Observation()  # counts the compacted base only (observe wraps it)
    (
        base.observe(obs, F.count(F.lit(1)).alias("n"))
        .unionByName(passthru)
        .write.mode("overwrite")  # clears a crashed prior attempt
        .partitionBy("ingest")
        .parquet(_seg_path(root, new_epoch))
    )
    got = obs.get["n"]
    publish(root, _META, epoch=new_epoch, **publish_kw)
    expire_epochs(root, _SEG_EPOCH, new_epoch - keep_epochs)
    return int(got) if got is not None else 0
