"""Streaming exact-substring dedup (streaming/spans.py): probe new docs
against the persisted span store, catch cross-batch and intra-batch
duplicated spans, stay idempotent under at-least-once replay."""

from __future__ import annotations

import json
import os

from cdc_rs_spark.streaming.spans import (
    probe_spans_against_store,
    spans_foreach_batch,
)
from cdc_rs_spark.streaming.store import read_sidecar


def _read_meta(root):
    return read_sidecar(root, "_span_meta.json")


# a 60-char run shared as a PREFIX puts identical windows at positions
# 1 and 11 of both docs (SPAN_LEN=40, SPAN_STRIDE=10); its length is a
# multiple of the stride so a suffix after it stays grid-aligned too
SHARED = "the quick brown fox jumps over the lazy dog again and again "
assert len(SHARED) == 60
UNIQUE1 = "x" * 20 + "".join(chr(97 + (i * 7) % 26) for i in range(80))
UNIQUE2 = "y" * 20 + "".join(chr(97 + (i * 11) % 26) for i in range(80))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_probe_flags_cross_store_and_intra_batch(spark):
    store = _docs(spark, [(1, SHARED + UNIQUE1)])
    from cdc_rs_spark.operators.dedup import doc_spans

    span_store = doc_spans(store).select("span", "doc_id")
    batch = _docs(
        spark,
        [
            (2, SHARED + UNIQUE2),  # duplicates the stored doc's prefix
            (3, UNIQUE2 + "z" * 40),  # intra-batch pair with 4
            (4, UNIQUE2 + "w" * 40),
            (5, "all fresh " + UNIQUE1[::-1]),  # clean
        ],
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
        for r in probe_spans_against_store(batch, span_store).collect()
    }
    assert 2 in got and got[2][1] >= 2  # prefix windows at 1 and 11
    # docs 3 and 4 share UNIQUE2's windows with doc 2 and each other
    assert 3 in got and 4 in got
    assert 5 not in got
    # short doc contributes nothing and does not crash
    tiny = _docs(spark, [(9, "short")])
    assert probe_spans_against_store(tiny, span_store).count() == 0


def test_foreach_batch_catches_cross_batch_and_is_idempotent(spark, tmp_path):
    store_path = str(tmp_path / "span_store")
    # seed an empty store with the right schema
    _docs(spark, []).sparkSession.createDataFrame(
        [], "span string, doc_id bigint"
    ).write.parquet(store_path)

    reports: list[tuple[int, dict]] = []

    def on_report(df, batch_id):
        reports.append(
            (batch_id, {r["doc_id"]: r["n_dup_spans"] for r in df.collect()})
        )

    fn = spans_foreach_batch(store_path, on_report)
    fn(_docs(spark, [(1, SHARED + UNIQUE1)]), 0)
    fn(_docs(spark, [(2, SHARED + UNIQUE2)]), 1)
    assert reports[0] == (0, {})  # first batch: nothing to collide with
    assert 2 in reports[1][1] and reports[1][1][2] >= 2

    # at-least-once replay of batch 1: its own stored spans must NOT make
    # doc 2 a duplicate of itself — the report is unchanged
    fn(_docs(spark, [(2, SHARED + UNIQUE2)]), 1)
    assert reports[2][1] == reports[1][1]

    # a third batch duplicating doc 2's unique tail is caught from the store
    fn(_docs(spark, [(7, UNIQUE2 + "fresh tail material here")]), 2)
    assert 7 in reports[3][1]


def test_streaming_end_to_end_file_source(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    for fname, rows in [
        ("b1.json", [(1, SHARED + UNIQUE1)]),
        ("b2.json", [(2, SHARED + UNIQUE2)]),
    ]:
        with open(os.path.join(src, fname), "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    store_path = str(tmp_path / "span_store")
    spark.createDataFrame([], "span string, doc_id bigint").write.parquet(
        store_path
    )
    seen: list[tuple[int, dict]] = []
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .writeStream.foreachBatch(
            spans_foreach_batch(
                store_path,
                lambda df, b: seen.append(
                    (b, {r["doc_id"]: r["n_dup_spans"] for r in df.collect()})
                ),
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert len(seen) == 2
    flagged = {d for _, rep in seen for d in rep}
    # file-source batch order is timestamp-based and may tie — the
    # order-free property is that EXACTLY the second arrival is flagged
    assert len(flagged) == 1 and flagged <= {1, 2}, seen


def test_epoch_store_bootstraps_without_precreate(spark, tmp_path):
    """Round-8 ADVICE: a missing store path no longer needs the caller's
    empty-parquet pre-write — the first batch bootstraps an epoch'd
    store."""
    store_path = str(tmp_path / "fresh_store")  # never created
    reports = []
    fn = spans_foreach_batch(
        store_path, lambda df, b: reports.append((b, df.collect()))
    )
    fn(_docs(spark, [(1, SHARED + UNIQUE1)]), 0)
    fn(_docs(spark, [(2, SHARED + UNIQUE2)]), 1)
    assert reports[0][1] == []
    assert {r["doc_id"] for r in reports[1][1]} == {2}
    from cdc_rs_spark.streaming.spans import is_epoch_store

    assert is_epoch_store(store_path)


def test_hashed_store_report_equals_raw(spark, tmp_path):
    """Dual-xxhash64 keys (16 bytes/row) must report exactly what the
    raw-span store reports — the two-key match IS the verify join."""
    raw_path = str(tmp_path / "raw")
    hashed_path = str(tmp_path / "hashed")
    raw_reports, hashed_reports = [], []
    fn_raw = spans_foreach_batch(
        raw_path, lambda df, b: raw_reports.append(sorted(map(tuple, df.collect())))
    )
    fn_hashed = spans_foreach_batch(
        hashed_path,
        lambda df, b: hashed_reports.append(sorted(map(tuple, df.collect()))),
        hashed=True,
    )
    batches = [
        _docs(spark, [(1, SHARED + UNIQUE1), (3, UNIQUE2 + "z" * 40)]),
        _docs(spark, [(2, SHARED + UNIQUE2), (4, UNIQUE2 + "w" * 40)]),
        _docs(spark, [(7, UNIQUE1 + "fresh tail material here")]),
    ]
    for i, b in enumerate(batches):
        fn_raw(b, i)
        fn_hashed(b, i)
    assert raw_reports == hashed_reports
    # and the hashed store really stores hashes, not text
    from cdc_rs_spark.streaming.spans import live_span_store

    assert set(live_span_store(spark, hashed_path).columns) == {
        "h1", "h2", "doc_id",
    }


def test_replays_bounded_by_ledger_and_compaction(spark, tmp_path):
    """Store size under at-least-once replays: the ledger skips replayed
    appends, a crash between append and ledger commit leaves duplicates,
    and compaction's DISTINCT rewrite collapses them — the store is
    bounded at its distinct (key, doc_id) size."""
    from cdc_rs_spark.streaming.spans import (
        _epoch_path,
        compact_span_store,
        live_span_store,
    )

    store_path = str(tmp_path / "store")
    fn = spans_foreach_batch(store_path)
    b0 = _docs(spark, [(1, SHARED + UNIQUE1)])
    b1 = _docs(spark, [(2, SHARED + UNIQUE2)])
    fn(b0, 0)
    fn(b1, 1)
    clean = live_span_store(spark, store_path).count()
    # ledger-skipped replays: size unchanged
    for _ in range(3):
        fn(b1, 1)
        fn(b0, 0)
    assert live_span_store(spark, store_path).count() == clean
    # crash-window duplicates (append landed, ledger didn't) simulated by
    # appending the batch's keys directly, then compaction collapses them
    from cdc_rs_spark.streaming.spans import span_keys

    meta = _read_meta(store_path)
    keyed, keys = span_keys(b1, hashed=False)
    for _ in range(2):
        keyed.select(*keys, "doc_id").distinct().write.mode("append").parquet(
            _epoch_path(store_path, int(meta["epoch"]))
        )
    assert live_span_store(spark, store_path).count() > clean
    n = compact_span_store(spark, store_path)
    assert n == clean == live_span_store(spark, store_path).count()


def test_probe_equivalent_before_and_after_compaction(spark, tmp_path):
    """The report for a fresh batch must be identical probed against the
    pre-compaction store (with duplicate rows) and the post-compaction
    epoch."""
    from cdc_rs_spark.streaming.spans import (
        _epoch_path,
        compact_span_store,
        live_span_store,
        probe_spans_against_store,
        span_keys,
    )

    store_path = str(tmp_path / "store")
    fn = spans_foreach_batch(store_path)
    fn(_docs(spark, [(1, SHARED + UNIQUE1)]), 0)
    # inject replay duplicates straight into the live epoch
    meta = _read_meta(store_path)
    keyed, keys = span_keys(_docs(spark, [(1, SHARED + UNIQUE1)]), False)
    keyed.select(*keys, "doc_id").distinct().write.mode("append").parquet(
        _epoch_path(store_path, int(meta["epoch"]))
    )
    probe = _docs(spark, [(2, SHARED + UNIQUE2), (5, "all fresh " + UNIQUE1[::-1])])
    before = sorted(
        map(tuple, probe_spans_against_store(
            probe, live_span_store(spark, store_path)
        ).collect())
    )
    compact_span_store(spark, store_path)
    after = sorted(
        map(tuple, probe_spans_against_store(
            probe, live_span_store(spark, store_path)
        ).collect())
    )
    assert before == after and {r[0] for r in before} == {2}


def test_epoch_retention_and_gc(spark, tmp_path):
    """Superseded epochs are retained keep_epochs compactions, then GC'd
    — and a legacy bare store refuses compaction with guidance."""
    import os as _os

    import pytest as _pytest

    from cdc_rs_spark.streaming.spans import compact_span_store

    store_path = str(tmp_path / "store")
    fn = spans_foreach_batch(store_path)
    fn(_docs(spark, [(1, SHARED + UNIQUE1)]), 0)
    for _ in range(3):
        compact_span_store(spark, store_path, keep_epochs=1)
    dirs = sorted(
        d for d in _os.listdir(store_path) if d.startswith("store-")
    )
    assert dirs == ["store-000002", "store-000003"], dirs

    legacy = str(tmp_path / "legacy")
    spark.createDataFrame([], "span string, doc_id bigint").write.parquet(
        legacy
    )
    with _pytest.raises(ValueError, match="legacy"):
        compact_span_store(spark, legacy)


def test_compact_every_policy_runs_inline(spark, tmp_path):
    """compact_every=2 compacts after every second appended batch (the
    in-loop OPTIMIZE policy, mirroring ivf_foreach_batch's
    compact_after_versions)."""
    store_path = str(tmp_path / "store")
    fn = spans_foreach_batch(store_path, compact_every=2)
    fn(_docs(spark, [(1, SHARED + UNIQUE1)]), 0)
    assert int(_read_meta(store_path)["epoch"]) == 0
    fn(_docs(spark, [(2, SHARED + UNIQUE2)]), 1)
    assert int(_read_meta(store_path)["epoch"]) == 1
    fn(_docs(spark, [(2, SHARED + UNIQUE2)]), 1)  # replay: no compact
    assert int(_read_meta(store_path)["epoch"]) == 1


def test_anchor_store_probe_catches_shifted_copy(spark):
    """The incremental payoff of content-defined anchoring (round 9): a
    stored document's OFFSET-SHIFTED copy arrives in a later batch — the
    anchored-grid store flags it, the stride-grid store provably cannot
    (offsets disagree mod the stride). Same probe core, only the sampler
    differs."""
    import hashlib

    from cdc_rs_spark.operators.dedup import doc_anchor_spans, doc_spans
    from cdc_rs_spark.streaming.spans import probe_spans_against_store

    base = "".join(
        chr(ord("a") + b % 26)
        for k in range(15)
        for b in hashlib.md5(f"anchor-{k}".encode()).digest()
    )  # 240 aperiodic chars — several anchors with near-certainty
    stored = spark.createDataFrame(
        [(1, base)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(2, "~~~" + base)], "doc_id long, text string"  # shift 3
    )
    anchored_store = doc_anchor_spans(stored).select("span", "doc_id").distinct()
    got = probe_spans_against_store(
        batch, anchored_store, sampler=doc_anchor_spans
    ).collect()
    assert len(got) == 1 and got[0]["doc_id"] == 2
    assert got[0]["n_dup_spans"] >= 1  # the shifted copy is CAUGHT

    stride_store = doc_spans(stored).select("span", "doc_id").distinct()
    missed = probe_spans_against_store(batch, stride_store).collect()
    assert missed == []  # the stride grid's deterministic blind spot


def test_remove_docs_stops_witnessing_and_compaction_erases(spark, tmp_path):
    """CDC-delete fold (round 10): after remove_docs_from_span_store, a
    removed doc's windows stop witnessing duplication (a later copy of
    its unique content is NOT flagged against the ghost), the delete
    replay is a ledger no-op, and the next compaction physically drops
    the rows from the new epoch."""
    from cdc_rs_spark.streaming.spans import (
        _epoch_path,
        compact_span_store,
        live_span_store,
        remove_docs_from_span_store,
    )

    store = str(tmp_path / "span_store")  # epoch'd: bootstrapped by fn
    reports: list[tuple[int, dict]] = []

    def on_report(df, batch_id):
        reports.append(
            (batch_id, {r["doc_id"]: r["n_dup_spans"] for r in df.collect()})
        )

    fn = spans_foreach_batch(store, on_report)
    fn(_docs(spark, [(1, SHARED + UNIQUE1)]), 0)
    fn(_docs(spark, [(2, SHARED + UNIQUE2)]), 1)
    assert 2 in reports[1][1]  # doc 2 collides with doc 1's shared run
    n_before = live_span_store(spark, store).count()

    stats = remove_docs_from_span_store(
        spark, store, spark.createDataFrame([(1,)], "doc_id bigint"),
        batch_id=0,
    )
    assert stats["n_removed"] == 1
    # live view: doc 1's rows are gone
    live_ids = {
        r["doc_id"] for r in live_span_store(spark, store).collect()
    }
    assert live_ids == {2}
    assert live_span_store(spark, store).count() < n_before
    # a new copy of doc 1's unique tail is NOT flagged (ghost content)
    fn(_docs(spark, [(7, UNIQUE1 + "fresh tail material here")]), 2)
    assert 7 not in reports[2][1]
    # but doc 2's surviving rows still witness
    fn(_docs(spark, [(8, SHARED + UNIQUE2)]), 3)
    assert 8 in reports[3][1]
    # replay of the delete batch: ledger no-op
    assert remove_docs_from_span_store(
        spark, store, spark.createDataFrame([(1,)], "doc_id bigint"),
        batch_id=0,
    )["skipped_duplicate"]
    # compaction physically erases doc 1's rows from the new epoch
    compact_span_store(spark, store, keep_epochs=0)
    meta = _read_meta(store)
    epoch_ids = {
        r["doc_id"]
        for r in spark.read.parquet(
            _epoch_path(store, int(meta["epoch"]))
        ).collect()
    }
    assert 1 not in epoch_ids and {2, 7, 8} <= epoch_ids


def test_readmit_reopens_span_store_after_remove(spark, tmp_path):
    """remove -> compact (erasure) -> readmit -> re-ingest == never-
    removed baseline (round 11, VERDICT r10 next #3); the clear fold is
    ledgered and restores nothing by itself."""
    from cdc_rs_spark.streaming.spans import (
        compact_span_store,
        live_span_store,
        readmit_docs_to_span_store,
        remove_docs_from_span_store,
        span_tombstones,
    )

    store = str(tmp_path / "span_store")
    fn = spans_foreach_batch(store, lambda df, b: df.collect())
    fn(_docs(spark, [(1, SHARED + UNIQUE1)]), 0)
    fn(_docs(spark, [(2, SHARED + UNIQUE2)]), 1)
    baseline_rows = live_span_store(spark, store).count()
    remove_docs_from_span_store(
        spark, store, spark.createDataFrame([(1,)], "doc_id bigint"),
        batch_id=0,
    )
    compact_span_store(spark, store, keep_epochs=0)  # physical erasure
    stats = readmit_docs_to_span_store(
        spark, store, spark.createDataFrame([(1,)], "doc_id bigint"),
        batch_id=1,
    )
    assert stats["n_readmitted"] == 1
    assert span_tombstones(spark, store).count() == 0
    # restores nothing by itself
    assert {
        r["doc_id"] for r in live_span_store(spark, store).collect()
    } == {2}
    # re-ingestion brings the doc back with never-seen semantics
    fn(_docs(spark, [(1, SHARED + UNIQUE1)]), 2)
    assert live_span_store(spark, store).count() == baseline_rows
    assert {
        r["doc_id"] for r in live_span_store(spark, store).collect()
    } == {1, 2}
    # replayed clear is a ledger no-op
    assert readmit_docs_to_span_store(
        spark, store, spark.createDataFrame([(1,)], "doc_id bigint"),
        batch_id=1,
    )["skipped_duplicate"]
