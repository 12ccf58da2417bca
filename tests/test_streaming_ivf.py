"""Incremental IVF index maintenance (streaming/ivf.py, round 6):
bootstrap an index, stream embedding micro-batches through foreachBatch
appends, and verify the three contracts — cross-batch catch (a probe finds
neighbors from every generation of the store), re-train triggering with
centroid versioning (old rows stay probed under their own geometry), and
the scale shape (appends never read the lists store; probes scan only the
probed (version, cent_id) partitions)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cdc_rs_spark.streaming.ivf import (
    append_batch,
    compact_index,
    init_index,
    ivf_foreach_batch,
    probe_index,
)
from cdc_rs_spark.streaming.store import read_sidecar


def _read_meta(root):
    return read_sidecar(root, "_ivf_meta.json")


DIM = 4
A = [1.0, 0.05, 0.0, 0.0]  # cluster A center
B = [0.05, 1.0, 0.0, 0.0]  # cluster B center


def _vecs(ids, center, jitter=0.02):
    rows = []
    for i, vid in enumerate(ids):
        v = list(center)
        v[2] = jitter * ((i % 5) - 2)
        v[3] = jitter * ((vid % 7) - 3)
        rows.append((vid, [float(x) for x in v]))
    return rows


def _df(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def _queries(spark, qid, center):
    return spark.createDataFrame(
        [(qid, [float(x) for x in center])],
        "query_id bigint, q_emb array<float>",
    )


def test_incremental_index_cross_batch_catch(spark, tmp_path):
    """Two streamed micro-batches append into the index built on a base
    corpus; a probe afterwards returns neighbors drawn from the BASE and
    BOTH batches — the store accumulates across batches, it is not
    per-batch state."""
    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)

    src = str(tmp_path / "src")
    os.makedirs(src)
    for fname, rows in [
        ("b1.json", _vecs(range(100, 104), A)),
        ("b2.json", _vecs(range(200, 204), A)),
    ]:
        with open(os.path.join(src, fname), "w") as f:
            for vid, emb in rows:
                f.write(json.dumps({"vec_id": vid, "embedding": emb}) + "\n")

    stats_seen = []
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            ivf_foreach_batch(
                index_dir, retrain_ratio=1e9, drift_margin=10.0, dim=DIM,
                on_stats=lambda s, b: stats_seen.append((b, s)),
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert sum(s["batch_rows"] for _, s in stats_seen) == 8
    assert len(stats_seen) >= 2  # really arrived as separate micro-batches

    top = probe_index(
        spark, _queries(spark, 999, A), index_dir, nprobe=1, k=8, dim=DIM
    ).collect()
    got = {r["vec_id"] for r in top}
    # cross-batch catch: the one probed list holds base + batch1 + batch2
    assert got & set(range(0, 4)), got
    assert got & set(range(100, 104)), got
    assert got & set(range(200, 204)), got
    assert not got & set(range(10, 14))  # cluster B list not probed


def test_retrain_trigger_and_centroid_versioning(spark, tmp_path):
    """Appending past retrain_ratio bumps the centroid generation; rows
    assigned under v0 STAY in v0 lists and remain probed under v0
    geometry, while post-retrain appends land in v1 — no orphaned rows,
    no corpus rewrite."""
    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 3), A) + _vecs(range(10, 13), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=16, dim=DIM)
    assert _read_meta(index_dir)["version"] == 0

    big = _df(spark, _vecs(range(100, 106), A))  # 6 rows vs trained_on=6
    stats = append_batch(
        spark, big, index_dir, retrain_ratio=0.5, drift_margin=10.0, dim=DIM
    )
    assert stats["retrained"] is True and stats["version"] == 1
    meta = _read_meta(index_dir)
    assert meta["trained_on"] == 12 and meta["appended_since_train"] == 0

    after = _df(spark, _vecs(range(300, 303), B))
    append_batch(
        spark, after, index_dir, retrain_ratio=1e9, drift_margin=10.0, dim=DIM
    )
    from cdc_rs_spark.streaming.ivf import load_centroids

    assert {r["version"] for r in load_centroids(index_dir)} == {0, 1}
    lists = spark.read.parquet(os.path.join(index_dir, "lists"))
    vers = {
        r["version"]: r["n"]
        for r in lists.groupBy("version").agg(F.count("*").alias("n")).collect()
    }
    # the big batch was assigned under v0 (retrain happens AFTER its
    # append); only post-retrain rows carry v1
    assert vers[0] == 12 and vers[1] == 3

    # probes see rows from BOTH generations
    got_a = {
        r["vec_id"]
        for r in probe_index(
            spark, _queries(spark, 999, A), index_dir, nprobe=1, k=10, dim=DIM
        ).collect()
    }
    got_b = {
        r["vec_id"]
        for r in probe_index(
            spark, _queries(spark, 998, B), index_dir, nprobe=1, k=10, dim=DIM
        ).collect()
    }
    assert got_a & set(range(100, 106))  # v0 rows still found
    assert got_b & set(range(300, 303))  # v1 rows found
    assert got_b & set(range(10, 13))  # v0 B-cluster rows found too


def test_append_batch_never_reads_lists(spark, tmp_path, monkeypatch):
    """The per-batch scale contract: append_batch touches the batch, the
    centroid table and the bounded reservoir — NEVER the lists store (no
    corpus re-scan per micro-batch). Asserted by spying every parquet
    read the append issues."""
    import pyspark.sql.readwriter as rw

    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)

    seen: list[str] = []
    orig = rw.DataFrameReader.parquet

    def spy(self, *paths, **kw):
        seen.extend(str(p) for p in paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    append_batch(
        spark, _df(spark, _vecs(range(100, 104), A)), index_dir,
        retrain_ratio=1e9, drift_margin=10.0, dim=DIM,
    )
    # round 7: the reservoir read moved driver-side (pyarrow), so the
    # append issues NO Spark parquet reads at all — prove the spy works
    # with an explicit read, then assert the append itself read nothing
    assert not seen, seen
    spark.read.parquet(os.path.join(index_dir, "lists")).count()
    assert seen, "spy saw no reads — instrumentation broke"
    assert not any(p for p in seen if "lists" not in p), seen


def test_probe_scan_is_partition_pruned(spark, tmp_path):
    """probe_index pushes the probed (version, cent_id) pairs as STATIC
    partition filters — the parquet scan reads only the probed
    directories (nprobe/nlists of one generation here), not the whole
    store."""
    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 6), A) + _vecs(range(10, 16), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=12, dim=DIM)
    out = probe_index(
        spark, _queries(spark, 999, A), index_dir, nprobe=1, k=5, dim=DIM
    )
    # shared plan guard (round 7): finds the lists FileScan by node type —
    # the old "lists" substring match silently fell back to the whole plan
    # when the printer truncated the tmp path out of the Location field
    from cdc_rs_spark.streaming.ivf import assert_probe_pruned

    assert_probe_pruned(out)


def test_compact_rewrites_to_single_generation(spark, tmp_path):
    """compact_index is the deliberate corpus rewrite: after it, every row
    is assigned under the LATEST centroids, one generation remains, and
    probes still find everything."""
    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 3), A) + _vecs(range(10, 13), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=16, dim=DIM)
    append_batch(  # trigger retrain -> two generations
        spark, _df(spark, _vecs(range(100, 106), A)), index_dir,
        retrain_ratio=0.5, drift_margin=10.0, dim=DIM,
    )
    n = compact_index(spark, index_dir, dim=DIM)
    assert n == 12
    from cdc_rs_spark.streaming.ivf import current_lists_path

    lists = spark.read.parquet(current_lists_path(index_dir))
    assert lists.select("version").distinct().count() == 1
    from cdc_rs_spark.streaming.ivf import load_centroids

    assert len({r["version"] for r in load_centroids(index_dir)}) == 1
    got = {
        r["vec_id"]
        for r in probe_index(
            spark, _queries(spark, 999, A), index_dir, nprobe=1, k=12, dim=DIM
        ).collect()
    }
    assert got & set(range(0, 3)) and got & set(range(100, 106))


def test_append_batch_retry_is_idempotent(spark, tmp_path):
    """Round-6 review: foreachBatch is at-least-once — a redelivered batch
    id must not duplicate vectors. Fully-committed retries are skipped via
    the meta's last_batch; a crashed-mid-append retry purges its own
    ingest partitions before re-appending."""
    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)
    batch = _df(spark, _vecs(range(100, 104), A))
    s1 = append_batch(
        spark, batch, index_dir, retrain_ratio=1e9, drift_margin=10.0,
        dim=DIM, batch_id=7,
    )
    assert s1["batch_rows"] == 4 and not s1.get("skipped_duplicate")
    # full redelivery of the committed batch: skipped outright
    s2 = append_batch(
        spark, batch, index_dir, retrain_ratio=1e9, drift_margin=10.0,
        dim=DIM, batch_id=7,
    )
    assert s2.get("skipped_duplicate") is True and s2["batch_rows"] == 0
    lists = spark.read.parquet(os.path.join(index_dir, "lists"))
    assert lists.filter(F.col("vec_id") >= 100).count() == 4  # no dupes

    # crashed-mid-append shape: lists rows exist for batch 8 but the meta
    # commit never happened — the retry must purge and land exactly once
    from cdc_rs_spark.streaming.ivf import _append_lists, load_centroids
    from cdc_rs_spark.operators.similarity import _assign_to_centroids

    nxt = _df(spark, _vecs(range(200, 203), A))
    cents_rows = load_centroids(index_dir, 0)
    cents_b = spark.createDataFrame(
        [(r["cent_id"], list(r["c_emb"])) for r in cents_rows],
        "cent_id bigint, c_emb array<double>",
    )
    _append_lists(  # simulate the partial write of a crashed attempt
        _assign_to_centroids(nxt, cents_b, DIM),
        os.path.join(index_dir, "lists"),
        0,
        "b-8",
    )
    append_batch(
        spark, nxt, index_dir, retrain_ratio=1e9, drift_margin=10.0,
        dim=DIM, batch_id=8,
    )
    lists = spark.read.parquet(os.path.join(index_dir, "lists"))
    assert lists.filter(F.col("vec_id") >= 200).count() == 3  # purged, once


def test_reservoir_gc_keeps_one_sample_dir(spark, tmp_path):
    """Round-6 review: superseded reservoir directories are deleted after
    each sidecar flip — a long stream must not accumulate one
    TRAIN_CAP-row parquet dir per micro-batch."""
    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)
    for i, ids in enumerate([range(100, 103), range(110, 113), range(120, 123)]):
        append_batch(
            spark, _df(spark, _vecs(ids, A)), index_dir,
            retrain_ratio=1e9, drift_margin=10.0, dim=DIM, batch_id=i,
        )
    samples = [n for n in os.listdir(index_dir) if n.startswith("sample_")]
    assert samples == ["sample_000003.parquet"], samples


def test_retrain_retry_replaces_orphan_generation(spark, tmp_path):
    """Round-6 review #2: a crash between the retrain's centroid append
    and the meta commit leaves an orphan generation — the retried retrain
    must REPLACE it, never duplicate the version number."""
    from cdc_rs_spark.streaming.ivf import _write_cents, load_centroids

    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 3), A) + _vecs(range(10, 13), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=16, dim=DIM)
    # simulate the orphan: version 1 appended, meta never flipped
    orphan = [{"version": 1, "cent_id": 77, "c_emb": [1.0] * DIM}]
    _write_cents(index_dir, orphan, append=True)
    assert _read_meta(index_dir)["version"] == 0
    # the retried batch fires the real retrain — version 1 must appear
    # EXACTLY once per centroid, with the orphan gone
    append_batch(
        spark, _df(spark, _vecs(range(100, 106), A)), index_dir,
        retrain_ratio=0.5, drift_margin=10.0, dim=DIM, batch_id=9,
    )
    rows = load_centroids(index_dir, 1)
    ids = [r["cent_id"] for r in rows]
    assert len(ids) == len(set(ids)) and 77 not in ids
    per_ver = {}
    for r in load_centroids(index_dir):
        per_ver.setdefault(r["version"], []).append(r["cent_id"])
    assert all(len(v) == len(set(v)) for v in per_ver.values())


def test_stream_id_namespaces_epoch_retry_purge(spark, tmp_path):
    """Round-6 review #2: epoch ids reset when a stream restarts with a
    fresh checkpoint — a second stream's batch 0 must not purge the first
    stream's committed batch-0 rows."""
    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)
    append_batch(
        spark, _df(spark, _vecs(range(100, 103), A)), index_dir,
        retrain_ratio=1e9, drift_margin=10.0, dim=DIM,
        batch_id=0, stream_id="runA",
    )
    append_batch(  # new stream, fresh checkpoint, epoch restarts at 0
        spark, _df(spark, _vecs(range(200, 203), A)), index_dir,
        retrain_ratio=1e9, drift_margin=10.0, dim=DIM,
        batch_id=0, stream_id="runB",
    )
    lists = spark.read.parquet(os.path.join(index_dir, "lists"))
    assert lists.filter(F.col("vec_id") >= 100).count() == 6  # both runs


def test_ingest_tags_cannot_alias_across_streams(spark, tmp_path):
    """Round-7 advice (medium): unseparated tags aliased — stream 'a1'
    batch 2 and stream 'a' batch 12 both read 'a12', so a retry purge
    under one deleted the OTHER run's committed rows. The '-' separator
    keeps them disjoint: a retry of ('a', 12) must leave ('a1', 2)'s rows
    intact."""
    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)
    append_batch(
        spark, _df(spark, _vecs(range(100, 103), A)), index_dir,
        retrain_ratio=1e9, drift_margin=10.0, dim=DIM,
        batch_id=2, stream_id="a1",
    )
    append_batch(
        spark, _df(spark, _vecs(range(200, 203), A)), index_dir,
        retrain_ratio=1e9, drift_margin=10.0, dim=DIM,
        batch_id=12, stream_id="a",
    )
    # simulate a RETRY of ('a', 12): rewind BOTH skip-guards — the legacy
    # last_batch AND the per-stream ledger (second-pass review: leaving
    # the ledger at 12 short-circuits the retry with skipped_duplicate
    # and the purge path this test exists to exercise never runs)
    meta_path = os.path.join(index_dir, "_ivf_meta.json")
    meta = json.loads(open(meta_path).read())
    meta["last_batch"] = None
    meta["last_batch_by_stream"]["a"] = 11
    with open(meta_path, "w") as fh:
        fh.write(json.dumps(meta))
    append_batch(
        spark, _df(spark, _vecs(range(200, 203), A)), index_dir,
        retrain_ratio=1e9, drift_margin=10.0, dim=DIM,
        batch_id=12, stream_id="a",
    )
    lists = spark.read.parquet(os.path.join(index_dir, "lists"))
    # stream a1's 3 rows survived; stream a's retry did not duplicate
    assert lists.filter(F.col("vec_id").between(100, 102)).count() == 3
    assert lists.filter(F.col("vec_id").between(200, 202)).count() == 3


def test_stream_id_separator_and_reserved_names_rejected(spark, tmp_path):
    """The separator contract only holds if stream ids cannot contain the
    separator or shadow the reserved init/compact/seq tags — both reject
    eagerly, at wiring time for the foreachBatch form."""
    with pytest.raises(ValueError, match="A-Za-z0-9"):
        append_batch(
            spark, _df(spark, []), "/nonexistent",
            batch_id=0, stream_id="run-1",
        )
    with pytest.raises(ValueError, match="reserved"):
        ivf_foreach_batch("/nonexistent", stream_id="compact")
    """Round-6 review #3: a death between compact's two renames must be
    self-healing — the next index operation promotes the complete
    compacted store (or restores the backup), it does not path-not-found."""
    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)
    lists = os.path.join(index_dir, "lists")
    # crash window A: lists renamed aside, compacted store not promoted
    os.rename(lists, os.path.join(index_dir, "lists_old"))
    got = probe_index(
        spark, _queries(spark, 999, A), index_dir, nprobe=1, k=4, dim=DIM
    ).collect()
    assert got and os.path.isdir(lists)
    # crash window B: only a complete lists_compact remains
    os.rename(lists, os.path.join(index_dir, "lists_compact"))
    append_batch(
        spark, _df(spark, _vecs(range(300, 302), A)), index_dir,
        retrain_ratio=1e9, drift_margin=10.0, dim=DIM,
    )
    assert os.path.isdir(lists)
    assert not os.path.isdir(os.path.join(index_dir, "lists_compact"))


def test_init_index_rerun_does_not_duplicate(spark, tmp_path):
    """Round-6 review #5: re-running the bootstrap (crash recovery) purges
    the prior attempt's ingest=init rows instead of appending a duplicate
    corpus."""
    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)
    lists = spark.read.parquet(os.path.join(index_dir, "lists"))
    assert lists.count() == 8  # not 16


def test_pre_round6_parquet_centroids_get_migration_error(tmp_path):
    """Round-6 review #4: an index written by the old build (parquet
    centroids) fails with a message naming the migration, not a bare
    missing-file error."""
    import pytest

    from cdc_rs_spark.streaming.ivf import load_centroids

    index_dir = str(tmp_path / "idx")
    os.makedirs(os.path.join(index_dir, "centroids.parquet"))
    with pytest.raises(FileNotFoundError, match="pre-round-6"):
        load_centroids(index_dir)


# --- round 7: streaming probe path + compaction policy ---------------------

from cdc_rs_spark.streaming.ivf import (  # noqa: E402
    _write_cents,
    assert_probe_pruned,
    live_versions,
    probe_foreach_batch,
)


def test_streaming_probe_across_retrain_matches_batch(spark, tmp_path):
    """VERDICT r6 next #3: the query-STREAM form. A probe batch before an
    ingest-triggered retrain sees generation {0}; a probe batch after it
    (same checkpointed stream) probes BOTH generations and finds the
    new-generation neighbors — with the partition-pruning plan assertion
    running per batch — and every streamed result equals the batch
    probe_index on the same query set (the oracle equivalence)."""
    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)

    qdir = str(tmp_path / "queries")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(qdir)
    results: dict[int, list] = {}

    def write_query_file(name, qid, center):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table(
                {
                    "query_id": pa.array([qid], type=pa.int64()),
                    "q_emb": pa.array(
                        [[float(x) for x in center]],
                        type=pa.list_(pa.float32()),
                    ),
                }
            ),
            os.path.join(qdir, name),
        )

    def on_result(df, bid):
        results[bid] = df.collect()

    def run_stream():
        (
            spark.readStream.schema("query_id bigint, q_emb array<float>")
            .parquet(qdir)
            .writeStream.foreachBatch(
                probe_foreach_batch(
                    index_dir, nprobe=1, k=3, dim=DIM,
                    on_result=on_result, check_pruning=True,
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )

    write_query_file("q1.parquet", 1, A)
    run_stream()
    assert {r["vec_id"] for r in results[0]} <= set(range(0, 4))

    # ingest enough of a NEW cluster C to trip the ratio retrain
    C = [0.0, 0.0, 1.0, 0.05]
    append_batch(
        spark, _df(spark, _vecs(range(200, 206), C)), index_dir,
        retrain_ratio=0.5, drift_margin=10.0, dim=DIM, batch_id=0,
    )
    assert live_versions(index_dir) == [0, 1]

    write_query_file("q2.parquet", 2, C)
    run_stream()
    got2 = {r["vec_id"] for r in results[1]}
    assert got2 & set(range(200, 206)), got2  # new generation probed
    # oracle equivalence: the streamed batch == the batch-mode probe
    batch_rows = probe_index(
        spark, _queries(spark, 2, C), index_dir, nprobe=1, k=3, dim=DIM
    ).collect()
    assert sorted(map(tuple, results[1])) == sorted(map(tuple, batch_rows))

    # an EMPTY trailing batch (no new files) must not degrade to a full
    # scan nor crash the pruning assertion
    run_stream()


def test_probe_during_retrain_crash_window_is_consistent(spark, tmp_path):
    """The mid-retrain window: generation 1's centroids are appended
    BEFORE the meta flips (and before any row lands under it). A probe in
    that window must return the same consistent result as before — the
    orphan generation has no list partitions, so its probes scan nothing
    — never an error or a torn read."""
    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)
    before = probe_index(
        spark, _queries(spark, 9, A), index_dir, nprobe=1, k=4, dim=DIM
    ).collect()
    from cdc_rs_spark.streaming.ivf import load_centroids

    orphan = [
        {"version": 1, "cent_id": r["cent_id"], "c_emb": r["c_emb"]}
        for r in load_centroids(index_dir, 0)
    ]
    _write_cents(index_dir, orphan, append=True)  # meta NOT flipped
    assert live_versions(index_dir) == [0, 1]
    mid = probe_index(
        spark, _queries(spark, 9, A), index_dir, nprobe=1, k=4, dim=DIM
    )
    assert_probe_pruned(mid)
    assert sorted(map(tuple, mid.collect())) == sorted(map(tuple, before))


def test_compaction_policy_bounds_generations(spark, tmp_path):
    """VERDICT r6 next #4: under continuous ingest with aggressive
    retrain triggers, live generations stay bounded by
    compact_after_versions — the step compacts when a retrain pushes the
    count over the bound, and probe fan-out stays
    <= compact_after_versions x nprobe file groups."""
    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)
    seen: list[dict] = []
    step = ivf_foreach_batch(
        index_dir, retrain_ratio=0.3, drift_margin=10.0, dim=DIM,
        on_stats=lambda s, b: seen.append(s), stream_id="run7",
        compact_after_versions=2,
    )
    counts = []
    for i in range(6):
        step(_df(spark, _vecs(range(300 + 10 * i, 306 + 10 * i), A)), i)
        counts.append(len(live_versions(index_dir)))
    assert any(s["retrained"] for s in seen)
    assert any(s["compacted"] for s in seen)
    assert max(counts) <= 2, counts
    # everything ever ingested is still probe-able after the compactions
    got = {
        r["vec_id"]
        for r in probe_index(
            spark, _queries(spark, 999, A), index_dir, nprobe=2, k=60,
            dim=DIM,
        ).collect()
    }
    assert set(range(0, 4)) <= got
    assert {300, 335} <= got  # first and last batch both present
    with pytest.raises(ValueError, match="compact_after_versions"):
        ivf_foreach_batch(index_dir, compact_after_versions=0)


def test_stream_id_partition_metachars_rejected(spark):
    """Round-7 review #2: characters Spark's partition writer URL-escapes
    (':', '%', '#', ...) would make the written directory differ from the
    raw tag the purge joins — whitelist [A-Za-z0-9_.] only."""
    for bad in ("run:1", "run%2", "run#3", "run'4", "run 5", "run-6"):
        with pytest.raises(ValueError, match="A-Za-z0-9"):
            ivf_foreach_batch("/nonexistent", stream_id=bad)
    ivf_foreach_batch("/nonexistent", stream_id="run_7.ok")  # fine


def test_legacy_pre_round7_tags_still_idempotent(spark, tmp_path):
    """Round-7 review #3: an index persisted by the pre-round-7 build
    (last_batch 'b:5', ingest dirs 'b5') keeps BOTH halves of retry
    idempotence across the upgrade — the skip-guard honors the legacy
    key form, and a legacy crashed-attempt residue dir is purged before
    the retry appends."""
    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)

    # 1) legacy last_batch form: redelivery of epoch 5 is skipped
    meta_path = os.path.join(index_dir, "_ivf_meta.json")
    meta = json.loads(open(meta_path).read())
    meta["last_batch"] = "b:5"
    with open(meta_path, "w") as fh:
        fh.write(json.dumps(meta))
    s = append_batch(
        spark, _df(spark, _vecs(range(100, 103), A)), index_dir,
        retrain_ratio=1e9, drift_margin=10.0, dim=DIM, batch_id=5,
    )
    assert s.get("skipped_duplicate") is True

    # 2) legacy residue dirs: a crashed pre-upgrade attempt left rows
    # under the unseparated tag 'b8'; the post-upgrade retry purges them
    from cdc_rs_spark.operators.similarity import _assign_to_centroids
    from cdc_rs_spark.streaming.ivf import _append_lists, load_centroids

    nxt = _df(spark, _vecs(range(200, 203), A))
    cents_rows = load_centroids(index_dir, 0)
    cents_b = spark.createDataFrame(
        [(r["cent_id"], list(r["c_emb"])) for r in cents_rows],
        "cent_id bigint, c_emb array<double>",
    )
    _append_lists(
        _assign_to_centroids(nxt, cents_b, DIM),
        os.path.join(index_dir, "lists"),
        0,
        "b8",
    )
    append_batch(
        spark, nxt, index_dir,
        retrain_ratio=1e9, drift_margin=10.0, dim=DIM, batch_id=8,
    )
    lists = spark.read.parquet(os.path.join(index_dir, "lists"))
    assert lists.filter(F.col("vec_id").between(200, 202)).count() == 3


def test_concurrent_ingest_and_probe_stress(spark, tmp_path):
    """True-concurrency form of the retrain-while-probing window
    (VERDICT r6 next #3): a probe thread hammers the index continuously
    while the main thread runs aggressive-retrain ingest batches with
    inline compaction. Every concurrent probe must succeed with
    plan-pruned scans and rows explained by SOME live generation set —
    no torn reads, no missing-file errors, no empty results."""
    import threading as _threading

    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)

    stop = _threading.Event()
    failures: list[str] = []
    probes_done = [0]

    def prober():
        q = _queries(spark, 999, A)
        while not stop.is_set():
            try:
                rows = probe_index(
                    spark, q, index_dir, nprobe=2, k=5, dim=DIM
                ).collect()
                if not rows:
                    failures.append("empty probe result")
                probes_done[0] += 1
            except Exception as exc:  # noqa: BLE001 — the assertion IS
                failures.append(f"{type(exc).__name__}: {exc}")
                return

    t = _threading.Thread(target=prober, daemon=True)
    t.start()
    step = ivf_foreach_batch(
        index_dir, retrain_ratio=0.3, drift_margin=10.0, dim=DIM,
        stream_id="stress", compact_after_versions=2,
    )
    try:
        for i in range(5):
            step(_df(spark, _vecs(range(400 + 10 * i, 406 + 10 * i), A)), i)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not failures, failures
    assert probes_done[0] > 0  # the prober really overlapped the ingest


def test_compaction_epochs_retained_then_expired(spark, tmp_path):
    """Round-7 stress-test fix: compact_index publishes a NEW epoch via an
    atomic meta flip and keeps superseded epochs for keep_epochs further
    compactions (a reader mid-scan on the old epoch keeps its files),
    then expires them — bounded disk, never a FileNotFound under a
    concurrent probe."""
    import glob

    from cdc_rs_spark.streaming.ivf import current_lists_path

    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)
    epoch0 = current_lists_path(index_dir)

    # a reader plans its scan against epoch 0 BEFORE the compactions
    stale_reader = spark.read.parquet(epoch0).select("vec_id")

    compact_index(spark, index_dir, dim=DIM, keep_epochs=2)
    epoch1 = current_lists_path(index_dir)
    assert epoch1 != epoch0
    # superseded epoch retained: the stale reader still completes
    assert os.path.isdir(epoch0)
    assert stale_reader.count() == 8

    compact_index(spark, index_dir, dim=DIM, keep_epochs=2)
    assert os.path.isdir(epoch0)  # still within retention
    compact_index(spark, index_dir, dim=DIM, keep_epochs=2)
    assert not os.path.isdir(epoch0)  # expired: 3 compactions old
    # exactly keep_epochs + 1 epoch dirs remain
    remaining = [
        p
        for p in glob.glob(os.path.join(index_dir, "lists*"))
        if os.path.isdir(p)
    ]
    assert len(remaining) == 3, remaining
    # the index is still fully probe-able on the live epoch
    got = {
        r["vec_id"]
        for r in probe_index(
            spark, _queries(spark, 999, A), index_dir, nprobe=2, k=8, dim=DIM
        ).collect()
    }
    assert set(range(0, 4)) <= got


def test_compaction_preserves_ingest_tags_for_retry_purge(spark, tmp_path):
    """Round-7 review: compact must NOT launder a crashed append's partial
    residue under one 'compact' tag — rows keep their original ingest
    tags through the rewrite, so a post-compaction retry's purge still
    finds and replaces the residue (no duplicate vectors)."""
    from cdc_rs_spark.operators.similarity import _assign_to_centroids
    from cdc_rs_spark.streaming.ivf import (
        _append_lists,
        current_lists_path,
        load_centroids,
    )

    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)

    # simulate a crashed append: partial rows under stress-7, meta uncommitted
    nxt = _df(spark, _vecs(range(200, 203), A))
    cents_rows = load_centroids(index_dir, 0)
    cents_b = spark.createDataFrame(
        [(r["cent_id"], list(r["c_emb"])) for r in cents_rows],
        "cent_id bigint, c_emb array<double>",
    )
    _append_lists(
        _assign_to_centroids(nxt.limit(2), cents_b, DIM),
        current_lists_path(index_dir),
        0,
        "stress-7",
    )
    compact_index(spark, index_dir, dim=DIM)

    # the retry after the operator's OPTIMIZE: must purge the laundered
    # residue in the NEW epoch and land the batch exactly once
    append_batch(
        spark, nxt, index_dir, retrain_ratio=1e9, drift_margin=10.0,
        dim=DIM, batch_id=7, stream_id="stress",
    )
    lists = spark.read.parquet(current_lists_path(index_dir))
    assert lists.filter(F.col("vec_id").between(200, 202)).count() == 3


def test_epoch_dirs_sees_seven_digit_epochs(tmp_path):
    """Round-7 review: {epoch:06d} pads but never truncates, so epoch
    10^6 writes 7 digits — the retention GC's directory listing must
    still see it or every later compaction leaks a corpus copy."""
    from cdc_rs_spark.streaming.ivf import _LISTS_EPOCH, _lists_path
    from cdc_rs_spark.streaming.store import epoch_dirs

    for e in (0, 1, 999999, 1000000, 12345678):
        os.makedirs(_lists_path(str(tmp_path), e))
    assert [e for e, _ in epoch_dirs(str(tmp_path), _LISTS_EPOCH)] == [
        0, 1, 999999, 1000000, 12345678
    ]


def test_compaction_collapses_committed_tags_and_ledger_skips_replays(
    spark, tmp_path
):
    """Round-7 review (second pass): committed ingest tags collapse into
    ONE 'compact' partition (no O(n_batches) directory growth across
    compactions), and a replay of a collapsed batch is SKIPPED by the
    ledger guard instead of purging tags that no longer exist — no
    duplicates either way."""
    from cdc_rs_spark.streaming.ivf import current_lists_path

    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)
    for b in (0, 1):
        append_batch(
            spark, _df(spark, _vecs(range(100 + 3 * b, 103 + 3 * b), A)),
            index_dir, retrain_ratio=1e9, drift_margin=10.0, dim=DIM,
            batch_id=b, stream_id="run",
        )
    compact_index(spark, index_dir, dim=DIM)

    lists_path = current_lists_path(index_dir)
    tags = {
        r["ingest"]
        for r in spark.read.parquet(lists_path).select("ingest").distinct().collect()
    }
    assert tags == {"compact"}, tags  # init + run-0 + run-1 all collapsed

    # replay of the collapsed batch 0: ledger says committed -> skipped
    s = append_batch(
        spark, _df(spark, _vecs(range(100, 103), A)), index_dir,
        retrain_ratio=1e9, drift_margin=10.0, dim=DIM,
        batch_id=0, stream_id="run",
    )
    assert s.get("skipped_duplicate") is True
    lists = spark.read.parquet(current_lists_path(index_dir))
    assert lists.filter(F.col("vec_id").between(100, 105)).count() == 6
    # a genuinely NEW batch still lands normally
    append_batch(
        spark, _df(spark, _vecs(range(300, 302), A)), index_dir,
        retrain_ratio=1e9, drift_margin=10.0, dim=DIM,
        batch_id=2, stream_id="run",
    )
    assert (
        spark.read.parquet(current_lists_path(index_dir))
        .filter(F.col("vec_id") >= 300)
        .count()
        == 2
    )


def test_exactly_once_random_walk_across_compactions(spark, tmp_path):
    """Model-based walk over the ledger/tag-collapse machinery (round-7
    second pass): a seeded random sequence of appends, replays,
    crash-then-retry batches and compactions, with the EXACTLY-ONCE
    invariant checked after every step — every committed vector appears
    exactly once in the live epoch, regardless of how tags were
    collapsed, residue was purged, or replays were skipped."""
    import collections
    import random

    from cdc_rs_spark.operators.similarity import _assign_to_centroids
    from cdc_rs_spark.streaming.ivf import (
        _append_lists,
        _lists_path,
        current_lists_path,
        load_centroids,
    )

    rng = random.Random(11)
    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM)
    model = collections.Counter(list(range(0, 4)) + list(range(10, 14)))

    def do_append(ids, bid):
        append_batch(
            spark, _df(spark, _vecs(ids, A)), index_dir,
            retrain_ratio=1e9, drift_margin=10.0, dim=DIM,
            batch_id=bid, stream_id="walk",
        )

    committed: list[tuple[int, list[int]]] = []
    next_id, bid, n_compacts = 100, 0, 0
    for step in range(14):
        op = rng.choices(
            ["append", "replay", "crash_retry", "compact"],
            weights=[4, 2, 3, 3],
        )[0]
        if op == "append":
            ids = list(range(next_id, next_id + 3))
            next_id += 10
            do_append(ids, bid)
            committed.append((bid, ids))
            model.update(ids)
            bid += 1
        elif op == "replay" and committed:
            rb, rids = committed[rng.randrange(len(committed))]
            do_append(rids, rb)  # must be skipped or purge-idempotent
        elif op == "crash_retry":
            ids = list(range(next_id, next_id + 3))
            next_id += 10
            # simulate a crashed attempt: partial rows under this batch's
            # tag, meta never committed
            cents_rows = load_centroids(
                index_dir, int(_read_meta(index_dir)["version"])
            )
            cents_b = spark.createDataFrame(
                [(r["cent_id"], list(r["c_emb"])) for r in cents_rows],
                "cent_id bigint, c_emb array<double>",
            )
            _append_lists(
                _assign_to_centroids(
                    _df(spark, _vecs(ids[:2], A)), cents_b, DIM
                ),
                current_lists_path(index_dir),
                int(_read_meta(index_dir)["version"]),
                f"walk-{bid}",
            )
            do_append(ids, bid)  # the retry
            committed.append((bid, ids))
            model.update(ids)
            bid += 1
        else:
            compact_index(spark, index_dir, dim=DIM)
            n_compacts += 1
        got = collections.Counter(
            r["vec_id"]
            for r in spark.read.parquet(current_lists_path(index_dir))
            .select("vec_id")
            .collect()
        )
        assert got == model, (
            f"step {step} op {op}: "
            f"extra={got - model} missing={model - got}"
        )
    assert n_compacts >= 2 and len(committed) >= 4  # the walk was real


def test_probe_snapshot_retries_across_concurrent_compaction(
    spark, tmp_path, monkeypatch
):
    """The round-8 ADVICE race: a retrain + compact_index completing
    between the probe's epoch read and its centroid read leaves the new
    epoch's rows under a generation the stale centroid snapshot lacks —
    the pre-fix probe scanned only empty partitions and silently
    returned nothing. probe_index now snapshots (epoch, centroids,
    epoch) and retries when the epoch moved, so the interleaving
    resolves to a fresh consistent pair."""
    import cdc_rs_spark.streaming.ivf as ivf

    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 6), A) + _vecs(range(10, 16), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=16, dim=DIM)
    stale_cents = ivf.load_centroids(index_dir)  # pre-retrain snapshot

    real_load = ivf.load_centroids
    calls = {"n": 0}

    def racing_load(index_dir_, version=None):
        calls["n"] += 1
        if calls["n"] == 1:
            # between the probe's first epoch read and this centroid
            # read, a retrain commits a new generation AND a compaction
            # rewrites every row under it, flipping the epoch
            append_batch(
                spark,
                _df(spark, _vecs(range(100, 103), A)),
                index_dir_,
                retrain_ratio=0.0,  # force the ratio trigger
                dim=DIM,
            )
            compact_index(spark, index_dir_, dim=DIM)
            return stale_cents  # the read raced: pre-retrain view
        return real_load(index_dir_, version)

    monkeypatch.setattr(ivf, "load_centroids", racing_load)
    top = probe_index(
        spark, _queries(spark, 999, A), index_dir, nprobe=1, k=8, dim=DIM
    ).collect()
    assert calls["n"] >= 2, "snapshot was not retaken after the epoch flip"
    got = {r["vec_id"] for r in top}
    # the compacted epoch stores everything under the NEW generation; a
    # stale-centroid probe would have returned an empty result here
    assert got & set(range(0, 6)), got
    assert got & set(range(100, 103)), got


def test_crashed_batchless_residue_survives_compaction_and_retry_purges(
    spark, tmp_path, monkeypatch
):
    """Round-8 ADVICE: the batch-less ingest tag rides its own commit
    watermark (seq_committed), not the reservoir's sample_seq. A crashed
    batch-less append's residue (a) is NOT laundered into the permanent
    'compact' partition by a compaction that runs after interleaved
    batch-id'd appends, and (b) IS found and purged by the retry, which
    recomputes the same tag — no duplicate vectors either way."""
    import collections

    import cdc_rs_spark.streaming.ivf as ivf

    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 4), A) + _vecs(range(10, 14), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=16, dim=DIM)

    # 1. batch-less append crashes AFTER the lists write, BEFORE meta
    real_read = ivf._read_sample_rows

    def boom(index_dir_, seq):
        raise RuntimeError("injected crash after lists append")

    monkeypatch.setattr(ivf, "_read_sample_rows", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        append_batch(
            spark, _df(spark, _vecs(range(50, 53), A)), index_dir,
            retrain_ratio=1e9, dim=DIM,
        )
    monkeypatch.setattr(ivf, "_read_sample_rows", real_read)

    # 2. interleaved batch-id'd appends commit, advancing sample_seq past
    #    the crashed attempt's tag number
    append_batch(
        spark, _df(spark, _vecs(range(60, 63), B)), index_dir,
        retrain_ratio=1e9, dim=DIM, batch_id=0, stream_id="s",
    )
    append_batch(
        spark, _df(spark, _vecs(range(70, 73), B)), index_dir,
        retrain_ratio=1e9, dim=DIM, batch_id=1, stream_id="s",
    )
    meta = _read_meta(index_dir)
    assert int(meta["sample_seq"]) >= 1 > int(meta["seq_committed"])

    # 3. compaction must PRESERVE the uncommitted seq-1 residue tag (the
    #    pre-fix code compared against sample_seq and collapsed it)
    compact_index(spark, index_dir, dim=DIM)
    from cdc_rs_spark.streaming.ivf import current_lists_path

    tags = set(
        r["ingest"]
        for r in spark.read.parquet(current_lists_path(index_dir))
        .select("ingest")
        .distinct()
        .collect()
    )
    assert "seq-1" in tags, tags

    # 4. the retry recomputes tag seq-1 (watermark, not sample_seq),
    #    purges its own residue, and commits — exactly one copy of each
    #    batch-less vector in the store
    append_batch(
        spark, _df(spark, _vecs(range(50, 53), A)), index_dir,
        retrain_ratio=1e9, dim=DIM,
    )
    assert int(_read_meta(index_dir)["seq_committed"]) == 1
    counts = collections.Counter(
        r["vec_id"]
        for r in spark.read.parquet(current_lists_path(index_dir))
        .select("vec_id")
        .collect()
    )
    assert max(counts.values()) == 1, {
        v: c for v, c in counts.items() if c > 1
    }
    assert {50, 51, 52} <= set(counts)

    # 5. a COMMITTED batch-less tag is at/below the watermark and does
    #    collapse on the next compaction
    compact_index(spark, index_dir, dim=DIM)
    tags = set(
        r["ingest"]
        for r in spark.read.parquet(current_lists_path(index_dir))
        .select("ingest")
        .distinct()
        .collect()
    )
    assert "seq-1" not in tags, tags


# ---- IVF-PQ layer (round 8) -------------------------------------------


def _pq_index(spark, tmp_path, name="pqidx"):
    index_dir = str(tmp_path / name)
    base = _df(spark, _vecs(range(0, 6), A) + _vecs(range(10, 16), B))
    init_index(
        spark, base, index_dir, n_centroids=2, train_cap=16, dim=DIM, pq=True
    )
    return index_dir


def test_pq_index_stores_codes_and_probe_adc_answers(spark, tmp_path):
    """pq=True stores (codes, rnorm) on every row — init AND appends —
    and probe_index_adc finds the same cluster membership the exact
    probe does on this well-separated fixture."""
    from cdc_rs_spark.streaming.ivf import load_pq_cb, probe_index_adc

    index_dir = _pq_index(spark, tmp_path)
    append_batch(
        spark,
        _df(spark, _vecs(range(100, 104), A)),
        index_dir,
        retrain_ratio=1e9,
        drift_margin=10.0,
        dim=DIM,
    )
    lists = spark.read.parquet(os.path.join(index_dir, "lists"))
    assert {"codes", "rnorm"} <= set(lists.columns)
    assert lists.filter(F.col("codes").isNull()).count() == 0
    cb = load_pq_cb(index_dir, 0)
    assert cb and len(cb[0]["c_sub"]) == DIM // 4  # PQ_M=4 subspaces
    got = {
        r["vec_id"]
        for r in probe_index_adc(
            spark, _queries(spark, 999, A), index_dir, nprobe=1, k=8, dim=DIM
        ).collect()
    }
    exact = {
        r["vec_id"]
        for r in probe_index(
            spark, _queries(spark, 999, A), index_dir, nprobe=1, k=8, dim=DIM
        ).collect()
    }
    # the appended batch's rows are found via their codes, and the ADC
    # probe's answer EQUALS the exact probe's: the PQ_CAND=32 shortlist
    # covers this fixture's whole probed list, so the exact re-rank sees
    # every candidate the exact probe sees
    assert got and got & set(range(100, 104))
    assert exact == got


def test_pq_retrain_writes_new_codebook_generation(spark, tmp_path):
    """A retrain bumps BOTH sidecars in lockstep; rows under each
    generation are ADC-scored with their own codebook and the probe
    spans generations."""
    from cdc_rs_spark.streaming.ivf import load_pq_cb, probe_index_adc

    index_dir = _pq_index(spark, tmp_path)
    st = append_batch(
        spark,
        _df(spark, _vecs(range(100, 112), A)),  # 12 rows vs trained_on=12
        index_dir,
        retrain_ratio=0.5,
        drift_margin=10.0,
        dim=DIM,
    )
    assert st["retrained"] and st["version"] == 1
    assert load_pq_cb(index_dir, 1), "retrain must write a v1 codebook"
    append_batch(
        spark,
        _df(spark, _vecs(range(300, 303), B)),
        index_dir,
        retrain_ratio=1e9,
        drift_margin=10.0,
        dim=DIM,
    )
    got_b = {
        r["vec_id"]
        for r in probe_index_adc(
            spark, _queries(spark, 998, B), index_dir, nprobe=1, k=10, dim=DIM
        ).collect()
    }
    assert got_b & set(range(300, 303))  # v1-encoded rows found
    assert got_b & set(range(10, 16))  # v0-encoded rows found too


def test_pq_compaction_reencodes_and_preserves_answers(spark, tmp_path):
    """compact_index on a pq index re-encodes every row against the
    latest codebook; with a single generation the rewrite is
    answer-preserving, and the collapsed sidecars stay in lockstep."""
    from cdc_rs_spark.streaming.ivf import load_pq_cb, probe_index_adc

    index_dir = _pq_index(spark, tmp_path)
    append_batch(
        spark,
        _df(spark, _vecs(range(100, 104), B)),
        index_dir,
        retrain_ratio=1e9,
        drift_margin=10.0,
        dim=DIM,
        batch_id=0,
        stream_id="s",
    )
    q = _queries(spark, 999, B)
    before = sorted(
        (r["rank"], r["vec_id"])
        for r in probe_index_adc(
            spark, q, index_dir, nprobe=1, k=6, dim=DIM
        ).collect()
    )
    compact_index(spark, index_dir, dim=DIM)
    after = sorted(
        (r["rank"], r["vec_id"])
        for r in probe_index_adc(
            spark, q, index_dir, nprobe=1, k=6, dim=DIM
        ).collect()
    )
    assert before == after
    lists = spark.read.parquet(os.path.join(index_dir, "lists"))
    assert lists.filter(F.col("codes").isNull()).count() == 0
    vers = {int(r["version"]) for r in load_pq_cb(index_dir)}
    assert vers == {0}


def test_probe_adc_refuses_non_pq_index(spark, tmp_path):
    """An index initialised without pq has no codebooks; probe_index_adc
    must refuse loudly instead of scanning nothing."""
    from cdc_rs_spark.streaming.ivf import probe_index_adc

    index_dir = str(tmp_path / "plain")
    init_index(
        spark, _df(spark, _vecs(range(0, 6), A)), index_dir,
        n_centroids=2, train_cap=16, dim=DIM,
    )
    with pytest.raises(ValueError, match="no PQ codebooks"):
        probe_index_adc(
            spark, _queries(spark, 1, A), index_dir, nprobe=1, k=3, dim=DIM
        )


def test_probe_adc_plan_is_partition_pruned(spark, tmp_path):
    """Both scans of an ADC probe (the codes pass and the shortlist
    re-rank) must carry the static (version, cent_id) PartitionFilters."""
    from cdc_rs_spark.streaming.ivf import (
        assert_probe_pruned,
        probe_index_adc,
    )

    index_dir = _pq_index(spark, tmp_path)
    res = probe_index_adc(
        spark, _queries(spark, 999, A), index_dir, nprobe=1, k=3, dim=DIM
    )
    assert_probe_pruned(res)


def test_probe_adc_skips_crashed_retrain_orphan_generation(spark, tmp_path):
    """A retrain that crashed between the centroid write and the
    codebook/meta commits leaves an orphan generation in the sidecars;
    no row can exist under it (rows append only under the committed
    version), so the ADC probe must SKIP it — not raise, not probe it."""
    from cdc_rs_spark.streaming.ivf import (
        _write_cents,
        load_centroids,
        probe_index_adc,
    )

    index_dir = _pq_index(spark, tmp_path)
    # simulate the crash window: a v1 centroid generation with no v1
    # codebook and no meta commit
    _write_cents(
        index_dir,
        [{"version": 1, "cent_id": 0, "c_emb": list(A)}],
        append=True,
    )
    assert {int(r["version"]) for r in load_centroids(index_dir)} == {0, 1}
    got = {
        r["vec_id"]
        for r in probe_index_adc(
            spark, _queries(spark, 999, A), index_dir, nprobe=1, k=5, dim=DIM
        ).collect()
    }
    assert got  # still answers from the committed generation


def test_residual_index_retrain_and_probe(spark, tmp_path):
    """residual=True (round 9): the index stores residual codes, a probe
    through probe_index_adc finds the right cluster, a forced re-train
    writes a SECOND residual codebook generation, and rows from both
    generations keep serving (each ADC-scored with its own codebook and
    coarse dot(q, c) term)."""
    from cdc_rs_spark.streaming.ivf import load_pq_cb, probe_index_adc

    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 8), A) + _vecs(range(10, 18), B))
    init_index(
        spark, base, index_dir, n_centroids=2, train_cap=8, dim=DIM,
        pq=True, residual=True,
    )
    meta = _read_meta(index_dir)
    assert meta["pq_residual"] is True
    # ratio trigger fires: the append is larger than trained_on
    stats = append_batch(
        spark,
        _df(spark, _vecs(range(100, 120), A)),
        index_dir,
        retrain_ratio=0.5,
        drift_margin=10.0,
        dim=DIM,
        batch_id=0,
    )
    assert stats["retrained"] is True
    versions = {int(r["version"]) for r in load_pq_cb(index_dir)}
    assert versions == {0, 1}, versions
    got = probe_index_adc(
        spark, _queries(spark, 500, A), index_dir, nprobe=1, k=5, dim=DIM
    ).collect()
    assert len(got) == 5
    # every neighbor of an A-query must be an A vector (ids < 10 or >= 100,
    # never the B cluster 10..17), and both generations contribute
    ids = {r["vec_id"] for r in got}
    assert all(v < 10 or v >= 100 for v in ids), ids
    assert any(v >= 100 for v in ids) and any(v < 10 for v in ids)
    # residual=True without pq is a contract violation
    with pytest.raises(ValueError, match="residual=True requires pq=True"):
        init_index(spark, base, str(tmp_path / "idx2"), n_centroids=2,
                   train_cap=8, dim=DIM, residual=True)


def test_remove_vectors_filters_probe_and_purges_reservoir(spark, tmp_path):
    """CDC-delete lifecycle (round 10): after remove_vectors, a probe
    must not return the forgotten vector (tombstone anti-join before
    ranking), the training reservoir must no longer hold its raw
    embedding, and a replayed delete batch is a ledger no-op."""
    from cdc_rs_spark.streaming.ivf import (
        _read_sample_rows,
        remove_vectors,
        tombstones,
    )

    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 6), A) + _vecs(range(10, 16), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=16, dim=DIM)
    q = _queries(spark, 99, A)
    before = {r["vec_id"] for r in
              probe_index(spark, q, index_dir, nprobe=1, k=3, dim=DIM).collect()}
    assert before  # cluster A vectors rank
    victim = sorted(before)[0]
    stats = remove_vectors(
        spark, index_dir,
        spark.createDataFrame([(victim,)], "vec_id bigint"),
        batch_id=0, stream_id="d",
    )
    assert stats["n_removed"] == 1
    assert stats["n_reservoir_purged"] == 1  # train_cap held everything
    after = {r["vec_id"] for r in
             probe_index(spark, q, index_dir, nprobe=1, k=3, dim=DIM).collect()}
    assert victim not in after
    assert after  # live neighbors still rank
    seq = int(_read_meta(index_dir)["sample_seq"])
    assert victim not in {
        r["vec_id"] for r in _read_sample_rows(index_dir, seq)
    }
    # replay: same batch id is skipped
    stats2 = remove_vectors(
        spark, index_dir,
        spark.createDataFrame([(victim,)], "vec_id bigint"),
        batch_id=0, stream_id="d",
    )
    assert stats2["skipped_duplicate"]
    assert {r["vec_id"] for r in tombstones(spark, index_dir).collect()} == {
        victim
    }


def test_compact_physically_erases_tombstoned_rows(spark, tmp_path):
    """compact_index rewrites the lists WITHOUT tombstoned vectors: the
    new epoch's parquet holds no trace of the forgotten id (the GDPR
    physical-erasure point), and probes stay correct through the flip."""
    from cdc_rs_spark.streaming.ivf import _lists_path, remove_vectors

    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 6), A) + _vecs(range(10, 16), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=16, dim=DIM)
    remove_vectors(
        spark, index_dir,
        spark.createDataFrame([(2,), (11,)], "vec_id bigint"),
    )
    n = compact_index(spark, index_dir, dim=DIM, keep_epochs=0)
    assert n == 10  # 12 stored minus 2 forgotten
    epoch = int(_read_meta(index_dir)["lists_epoch"])
    stored = {
        r["vec_id"]
        for r in spark.read.parquet(_lists_path(index_dir, epoch))
        .select("vec_id")
        .collect()
    }
    assert stored == (set(range(0, 6)) | set(range(10, 16))) - {2, 11}
    q = _queries(spark, 99, B)
    got = {r["vec_id"] for r in
           probe_index(spark, q, index_dir, nprobe=1, k=5, dim=DIM).collect()}
    # the forgotten ids never surface; which LIVE ids fill the k slots
    # depends on the 2-centroid seeding, which is not under test here
    assert 11 not in got and 2 not in got and got


def test_remove_vectors_filters_adc_probe(spark, tmp_path):
    """The PQ/ADC probe path honors tombstones too: the shortlist is
    filtered before ADC ranking, so a forgotten vector never reaches the
    exact re-rank."""
    from cdc_rs_spark.streaming.ivf import probe_index_adc, remove_vectors

    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 8), A) + _vecs(range(10, 18), B))
    init_index(
        spark, base, index_dir, n_centroids=2, train_cap=16, dim=DIM,
        pq=True,
    )
    q = _queries(spark, 99, A)
    before = {r["vec_id"] for r in
              probe_index_adc(spark, q, index_dir, nprobe=1, k=3, dim=DIM).collect()}
    victim = sorted(before)[0]
    remove_vectors(
        spark, index_dir,
        spark.createDataFrame([(victim,)], "vec_id bigint"),
    )
    after = {r["vec_id"] for r in
             probe_index_adc(spark, q, index_dir, nprobe=1, k=3, dim=DIM).collect()}
    assert victim not in after
    assert after


def test_readmit_vectors_reopens_after_remove(spark, tmp_path):
    """remove -> readmit -> re-append == never-removed baseline (round
    11, VERDICT r10 next #3): the tombstone-clear fold is ledgered,
    restores nothing by itself, and a re-appended vector probes
    normally again."""
    from cdc_rs_spark.streaming.ivf import (
        readmit_vectors,
        remove_vectors,
        tombstones,
    )

    index_dir = str(tmp_path / "idx")
    base = _df(spark, _vecs(range(0, 6), A) + _vecs(range(10, 16), B))
    init_index(spark, base, index_dir, n_centroids=2, train_cap=16, dim=DIM)
    q = _queries(spark, 99, A)
    baseline = {
        r["vec_id"]
        for r in probe_index(spark, q, index_dir, nprobe=1, k=3, dim=DIM)
        .collect()
    }
    victim = sorted(baseline)[0]
    victim_rows = [r for r in _vecs(range(0, 6), A) if r[0] == victim]
    remove_vectors(
        spark, index_dir,
        spark.createDataFrame([(victim,)], "vec_id bigint"),
        batch_id=0, stream_id="d",
    )
    # compact first: physical erasure, so the readmit genuinely restores
    # nothing (pre-compaction, clearing the tombstone re-exposes the
    # still-on-disk rows — the documented fast-path)
    compact_index(spark, index_dir, dim=DIM, keep_epochs=0)
    stats = readmit_vectors(
        spark, index_dir,
        spark.createDataFrame([(victim,)], "vec_id bigint"),
        batch_id=1, stream_id="d",
    )
    assert stats["n_readmitted"] == 1
    assert tombstones(spark, index_dir).count() == 0
    # readmit after erasure restores nothing by itself...
    mid = {
        r["vec_id"]
        for r in probe_index(spark, q, index_dir, nprobe=1, k=3, dim=DIM)
        .collect()
    }
    assert victim not in mid
    # ...but a re-append brings it back with never-seen semantics
    append_batch(spark, _df(spark, victim_rows), index_dir, batch_id=50)
    after = {
        r["vec_id"]
        for r in probe_index(spark, q, index_dir, nprobe=1, k=3, dim=DIM)
        .collect()
    }
    assert after == baseline
    # replayed clear is a ledger no-op
    assert readmit_vectors(
        spark, index_dir,
        spark.createDataFrame([(victim,)], "vec_id bigint"),
        batch_id=1, stream_id="d",
    )["skipped_duplicate"]
