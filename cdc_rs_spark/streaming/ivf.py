"""Incremental (streaming) IVF index maintenance — the ANN counterpart of
streaming/dedup.py's persisted band store (VERDICT r5 task 5): embeddings
arrive as a stream, each micro-batch is ASSIGNED against the current
centroids and appended to the inverted lists, and centroid drift triggers a
re-train that never re-scans the corpus. This is the piece a 100 TB
training pipeline needs that batch IVF (plans/similarity.py) lacks: the
corpus index is built ONCE and then maintained at ingest cost.

Index directory layout (parquet + one JSON sidecar):

  centroids.json      (version, cent_id, c_emb) rows — every LIVE
                      centroid generation; control-plane-tiny (versions x
                      n_centroids x dim floats), stored as a JSON sidecar
                      like _ivf_meta because a 16-row parquet write/read
                      costs whole Spark jobs (round-6 bench)
  lists/ (epoch 0),   the assigned corpus, parquet PARTITIONED BY
  lists-NNNNNN/       (version, cent_id): a probe join prunes to
                      nprobe/nlists of ONE version's files; each
                      compaction writes a NEW epoch directory
  sample_<seq>.parquet  the bounded TRAINING RESERVOIR: the TRAIN_CAP
                      corpus rows with the smallest (md5-bucket, vec_id)
                      seen so far — maintained incrementally (union the
                      batch, keep the smallest TRAIN_CAP), so a re-train
                      reads TRAIN_CAP rows at ANY corpus size
  _ivf_meta.json      {version, trained_on, appended_since_train,
                      base_cos, sample_seq, seq_committed,
                      last_batch_by_stream}

Ledger, publication, retention and tombstones follow streaming/store.py.
This store adds the per-generation centroid and PQ-codebook sidecars, a
batch-less `seq` watermark beside the ledger, and a purge-on-retry
`ingest=TAG` partition level in the lists store.

Scale contract (the whole point):
  - append_batch touches |batch| rows (assignment is the broadcast-argmax
    map-side pass of operators/similarity._assign_to_centroids) plus the
    TRAIN_CAP-row reservoir — NEVER the lists store;
  - re-train (Lloyd on the reservoir, driver-local like plans/similarity's
    _ivf_model) is O(TRAIN_CAP), NEVER a corpus scan;
  - after a re-train, rows already assigned under an older centroid
    generation STAY in their version's lists — queries probe the nprobe
    nearest lists of EVERY live version (each version's geometry explains
    its own rows), so recall does not silently degrade; compact_index is
    the explicit, deliberate corpus-rewrite that collapses versions.

No counterpart in the reference (its stream is CDC rows, not embeddings) —
this is the EXTENSION family's streaming form, same spirit as
streaming/dedup.py.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cdc_rs_spark.operators.similarity import (
    PQ_M,
    PQ_SUB,
    _assign_to_centroids,
    _py_cosine,
    _py_dot,
    _py_sub,
    lloyd_refine_local,
    pq_adc_rank,
    pq_encode_cols,
    pq_encode_residual,
    pq_train_local,
    pq_train_residual_local,
    salt_expr,
    two_stage_rank_topk,
    _n_salt_buckets,
    cosine,
)
from cdc_rs_spark.streaming.store import (
    append_tombstones,
    drop_tombstoned,
    expire_epochs,
    ledger_commit,
    ledger_done,
    publish,
    read_sidecar,
    read_tombstones,
    readmit_tombstones,
    uncommitted_tags,
    write_sidecar,
)

_META = "_ivf_meta.json"
_CENTS = "centroids.json"
_PQCB = "pq_codebooks.json"
# epoch 0 keeps the pre-epoch name "lists"
_LISTS_EPOCH = r"lists(?:-(\d+))?"
# superseded reservoirs are deleted after each sidecar flip, or a long
# stream would keep one TRAIN_CAP-row dir per micro-batch
_SAMPLE_EPOCH = r"sample_(\d+)\.parquet"


def _lists_path(index_dir: str, epoch: int) -> str:
    """Path of one lists-store EPOCH. Epoch 0 keeps the pre-epoch name
    ("lists") so indexes written before the snapshot scheme stay readable
    with no migration."""
    return os.path.join(
        index_dir, "lists" if epoch == 0 else f"lists-{epoch:06d}"
    )


def _lists_epoch(index_dir: str) -> int:
    return int(read_sidecar(index_dir, _META).get("lists_epoch", 0))


def current_lists_path(index_dir: str) -> str:
    """Public form for tests/tools: the directory the live epoch's rows
    are stored under."""
    return _lists_path(index_dir, _lists_epoch(index_dir))


def _probed_lists(
    spark: SparkSession, index_dir: str, epoch: int, probe_rows: list
) -> DataFrame:
    """The snapshot epoch's lists with STATIC partition pruning: the
    probed (version, cent_id) pairs are known driver-side, so they push
    as a literal disjunction — the scan reads ONLY the probed
    directories at any scale, with no reliance on dynamic partition
    pruning kicking in."""
    lists = spark.read.parquet(_lists_path(index_dir, epoch))
    pred = None
    for ver, cid in sorted({(r[0], r[1]) for r in probe_rows}):
        leg = (F.col("version") == ver) & (F.col("cent_id") == cid)
        pred = leg if pred is None else (pred | leg)
    return lists if pred is None else lists.filter(pred)


def _sample_path(index_dir: str, seq: int) -> str:
    return os.path.join(index_dir, f"sample_{seq:06d}.parquet")


def _bucket_col(c: F.col) -> F.col:
    from cdc_rs_spark.plans.pipeline import hash_bucket

    return hash_bucket(c, 1_000_000)


def _py_bucket(vid: int) -> int:
    import hashlib

    return int(hashlib.md5(str(vid).encode()).hexdigest()[:8], 16) % 1_000_000


def _write_sample_rows(index_dir: str, seq: int, rows) -> None:
    """Persist the reservoir DRIVER-SIDE with pyarrow: it is TRAIN_CAP
    rows by construction (control-plane-bounded), and a Spark write job +
    read-back job per micro-batch for 4096 rows was pure overhead
    (round-6 bench). The file stays ordinary parquet, so Spark reads it
    back for the union in the next fold."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "vec_id": pa.array(
                [int(r["vec_id"]) for r in rows], type=pa.int64()
            ),
            "embedding": pa.array(
                [list(r["embedding"]) for r in rows],
                type=pa.list_(pa.float32()),
            ),
        }
    )
    path = _sample_path(index_dir, seq)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _read_sample_rows(index_dir: str, seq: int) -> list[dict]:
    """Read the reservoir back DRIVER-SIDE with pyarrow — it is TRAIN_CAP
    rows by construction, and a Spark read+union job per micro-batch just
    to merge it with the batch's top-k was pure overhead (round-7 bench,
    mirroring the round-6 lesson that wrote it driver-side)."""
    import pyarrow.parquet as pq

    table = pq.read_table(_sample_path(index_dir, seq))
    return [
        {"vec_id": int(v), "embedding": list(e)}
        for v, e in zip(
            table.column("vec_id").to_pylist(),
            table.column("embedding").to_pylist(),
        )
    ]


def _take_sample(df: DataFrame, cap: int) -> DataFrame:
    """The deterministic count-bounded reservoir predicate: smallest
    (md5-bucket, vec_id) first. Plans as TakeOrderedAndProject — a
    per-partition heap top-k, O(cap) rows to the driver at any size."""
    return (
        df.select("vec_id", "embedding")
        .orderBy(_bucket_col(F.col("vec_id")), F.asc("vec_id"))
        .limit(cap)
    )


def _train_centroids(sample_rows, n_centroids: int, kmeans_iters: int):
    """Driver-local training on the bounded reservoir, mirroring
    plans/similarity._ivf_model: seeds are the reservoir's own smallest-
    bucket prefix, then `kmeans_iters` exact-arithmetic Lloyd iterations
    (lloyd_refine_local — bit-identical to the distributed refine)."""
    rows = sorted(
        sample_rows, key=lambda r: (_py_bucket(r["vec_id"]), r["vec_id"])
    )
    cents = [
        {"cent_id": r["vec_id"], "c_emb": list(r["embedding"])}
        for r in rows[:n_centroids]
    ]
    for _ in range(kmeans_iters):
        cents = lloyd_refine_local(rows, cents)
    return cents


def _mean_assign_cos(sample_rows, cents) -> float:
    """Drift metric: mean best-cosine of the RESERVOIR rows to their
    nearest centroid — corpus-size-independent by construction, and
    computed driver-side over rows already in hand. Vectorized with numpy
    (round-6 bench: the pure-Python TRAIN_CAP x n_centroids x dim triple
    loop dominated append_batch wall time); the metric only feeds the
    drift TRIGGER threshold, never an oracle-compared value, so the
    float64-matmul result needs no bit-parity with _py_cosine."""
    if not sample_rows:
        return 0.0
    try:
        import numpy as np

        x = np.asarray(
            [list(r["embedding"]) for r in sample_rows], dtype=np.float64
        )
        c = np.asarray([list(k["c_emb"]) for k in cents], dtype=np.float64)
        xn = np.linalg.norm(x, axis=1)
        cn = np.linalg.norm(c, axis=1)
        xn[xn == 0] = 1.0
        cn[cn == 0] = 1.0
        cos = (x @ c.T) / xn[:, None] / cn[None, :]
        return float(cos.max(axis=1).mean())
    except ImportError:  # numpy absent: the exact driver-side fallback
        total = 0.0
        for r in sample_rows:
            total += max(
                (_py_cosine(r["embedding"], c["c_emb"]), -c["cent_id"])
                for c in cents
            )[0]
        return total / len(sample_rows)


def _write_generations(
    index_dir: str, name: str, load, rows: list, append: bool
) -> None:
    """Write a per-generation sidecar (centroids or PQ codebooks). On
    append, any EXISTING rows with a version >= the incoming one are
    dropped first: a crash between a retrain's sidecar append and its
    meta commit leaves an orphan generation, and the retried retrain
    must REPLACE it, not duplicate the version number."""
    if append:
        new_min = min(int(r["version"]) for r in rows)
        rows = [r for r in load(index_dir) if int(r["version"]) < new_min] + rows
    write_sidecar(index_dir, name, rows)


def _write_cents(index_dir: str, rows: list, append: bool = False) -> None:
    """rows: [{"version": v, "cent_id": id, "c_emb": [...]}]."""
    _write_generations(
        index_dir,
        _CENTS,
        load_centroids,
        [
            {
                "version": int(r["version"]),
                "cent_id": int(r["cent_id"]),
                "c_emb": [float(x) for x in r["c_emb"]],
            }
            for r in rows
        ],
        append,
    )


def load_centroids(index_dir: str, version: int | None = None) -> list:
    if not os.path.exists(os.path.join(index_dir, _CENTS)) and os.path.isdir(
        os.path.join(index_dir, "centroids.parquet")
    ):
        raise FileNotFoundError(
            "this index was written by a pre-round-6 build that stored "
            "centroids as parquet; migrate once with: rows = [r.asDict() "
            "for r in spark.read.parquet(f'{index_dir}/centroids.parquet')"
            ".collect()]; cdc_rs_spark.streaming.ivf._write_cents("
            "index_dir, rows)"
        )
    rows = read_sidecar(index_dir, _CENTS)
    if version is not None:
        rows = [r for r in rows if int(r["version"]) == version]
    return rows


def _write_pq_cb(index_dir: str, rows: list, append: bool = False) -> None:
    """PQ codebook sidecar, one generation per centroid version. rows:
    [{"version", "m", "code", "c_sub", "n2"}]."""
    _write_generations(
        index_dir,
        _PQCB,
        load_pq_cb,
        [
            {
                "version": int(r["version"]),
                "m": int(r["m"]),
                "code": int(r["code"]),
                "c_sub": [float(x) for x in r["c_sub"]],
                "n2": float(r["n2"]),
            }
            for r in rows
        ],
        append,
    )


def load_pq_cb(index_dir: str, version: int | None = None) -> list:
    if not os.path.exists(os.path.join(index_dir, _PQCB)):
        return []
    rows = read_sidecar(index_dir, _PQCB)
    if version is not None:
        rows = [r for r in rows if int(r["version"]) == version]
    return rows


def _append_lists(
    assigned: DataFrame,
    lists_path: str,
    version: int,
    ingest: str,
    n_parts: int | None = None,
) -> None:
    """Append assigned rows under lists/version=V/cent_id=C/ingest=TAG.
    The third partition level is the IDEMPOTENCE unit: a retried
    micro-batch purges its own ingest=TAG directories before re-appending
    (round-6 review: foreachBatch is at-least-once — without the tag a
    retry would duplicate vectors in the index).

    `n_parts` should be the centroid count: hash-partitioning on cent_id
    can never fill more than n_centroids non-empty partitions, so the
    default spark.sql.shuffle.partitions tasks beyond that are pure
    scheduling/commit overhead (round-7 bench: 1.2 s -> 0.85 s per
    micro-batch write at 16 centroids) — and parallelism is unchanged,
    empty tasks never helped."""
    (
        # co-locate each inverted list before the write: without this, a
        # p-partition batch writes up to p files into EVERY list directory
        # (round-6 bench: 512 small files for a 13k-row init) — and at
        # cluster scale per-list file locality is what makes a probe read
        # few, dense files
        (
            assigned.repartition(n_parts, "cent_id")
            if n_parts
            else assigned.repartition("cent_id")
        )
        .withColumn("version", F.lit(version))
        .withColumn("ingest", F.lit(ingest))
        .write.mode("append")
        .partitionBy("version", "cent_id", "ingest")
        .parquet(lists_path)
    )


def _purge_ingest(lists_path: str, ingest: str) -> None:
    """Remove every <epoch>/.../ingest=TAG directory — the partial residue
    of a crashed append attempt for this tag."""
    import shutil

    lists = lists_path
    if not os.path.isdir(lists):
        return
    for vdir in os.listdir(lists):
        vpath = os.path.join(lists, vdir)
        if not os.path.isdir(vpath):
            continue
        for cdir in os.listdir(vpath):
            tgt = os.path.join(vpath, cdir, f"ingest={ingest}")
            if os.path.isdir(tgt):
                shutil.rmtree(tgt)


def _recover_lists(index_dir: str) -> None:
    """LEGACY heal only: pre-epoch builds compacted by renaming the live
    store aside (lists_old) and promoting a rewrite (lists_compact) in
    place, so a crash between the renames could leave lists/ missing.
    The epoch scheme has no such window — compact_index writes a NEW
    epoch directory and publishes it with one atomic meta flip — but an
    index whose last writer was a pre-epoch build may still carry the
    residue, so promote/restore it here exactly as that build would
    have. No-op (one isdir check) on healthy epoch-scheme indexes."""
    import shutil

    try:
        if int(read_sidecar(index_dir, _META).get("lists_epoch", 0)) != 0:
            return  # epoch scheme: legacy swap dirs can no longer exist
    except FileNotFoundError:
        pass  # bootstrap crashed before the first meta write
    lists = os.path.join(index_dir, "lists")
    tmp = os.path.join(index_dir, "lists_compact")
    backup = os.path.join(index_dir, "lists_old")
    if os.path.isdir(lists):
        return  # healthy; stale residue (if any) is cleared by compact
    if os.path.isdir(tmp):
        os.rename(tmp, lists)
        if os.path.isdir(backup):
            shutil.rmtree(backup)
    elif os.path.isdir(backup):
        os.rename(backup, lists)


def init_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    n_centroids: int = 16,
    train_cap: int | None = None,
    kmeans_iters: int = 1,
    dim: int | None = None,
    pq: bool = False,
    residual: bool = False,
) -> dict:
    """Batch bootstrap: train on the count-bounded reservoir, assign every
    corpus vector (broadcast argmax — zero corpus shuffle), write the
    partitioned lists + reservoir + centroids + sidecar. Returns the
    meta dict. `corpus` must have (vec_id, embedding).

    `pq=True` makes this an IVF-PQ index (FAISS IndexIVFPQ layout): PQ
    codebooks train on the SAME reservoir (pq_train_local — the exact
    sequential-fold arithmetic the batch similarity_pq_adc_topk oracle
    pins), one generation per centroid version, and every stored row
    additionally carries (codes, rnorm) encoded map-side with its
    generation's codebook. probe_index keeps working (exact scan over
    the stored embeddings); probe_index_adc reads only the codes.

    `residual=True` (requires pq=True) stores RESIDUAL codes — the FAISS
    IndexIVFPQ form: codebooks train on the 2^-20-snapped residuals
    x - c(x) (pq_train_residual_local, the arithmetic the batch
    similarity_ivfpq_residual_topk oracle pins), rows carry residual
    codes with rnorm = ||c + r_hat||, and probe_index_adc regains the
    coarse term dot(q, c) exactly per probed list. Same per-generation
    discipline: a retrain's new centroids get a new residual codebook."""
    if residual and not pq:
        raise ValueError("residual=True requires pq=True")
    os.makedirs(index_dir, exist_ok=True)
    cap = train_cap if train_cap is not None else n_centroids * 256
    sample_rows = _take_sample(corpus, cap).collect()  # heap top-k, O(cap)
    _write_sample_rows(index_dir, 0, sample_rows)
    cents = _train_centroids(sample_rows, n_centroids, kmeans_iters)
    _write_cents(
        index_dir, [{"version": 0, **c} for c in cents], append=False
    )
    cents_b = spark.createDataFrame(
        [(c["cent_id"], c["c_emb"]) for c in cents],
        "cent_id bigint, c_emb array<double>",
    )
    assigned = _assign_to_centroids(
        corpus.select("vec_id", "embedding"), cents_b, dim
    )
    if pq:
        # subspace geometry follows the vector width (PQ_M subspaces of
        # dim/PQ_M dims each; the default EMB_DIM geometry when dim is
        # not given) and is recorded in meta so retrains reproduce it
        pq_sub = (dim // PQ_M) if dim else PQ_SUB
        if dim and dim % PQ_M != 0:
            raise ValueError(
                f"pq=True needs dim divisible by {PQ_M} subspaces, got {dim}"
            )
        cb = (
            pq_train_residual_local(sample_rows, cents, n_sub=PQ_M, sub=pq_sub)
            if residual
            else pq_train_local(sample_rows, n_sub=PQ_M, sub=pq_sub)
        )
        _write_pq_cb(
            index_dir, [{"version": 0, **r} for r in cb], append=False
        )
        assigned = (
            pq_encode_residual(
                assigned.join(F.broadcast(cents_b), "cent_id"), cb
            ).drop("c_emb")
            if residual
            else pq_encode_cols(assigned, cb)
        )
    # crashed/re-run bootstrap residue (a fresh index is always epoch 0)
    _purge_ingest(_lists_path(index_dir, 0), "init")
    # fold the corpus count into the lists WRITE job via an Observation —
    # a separate .count() re-scanned the whole corpus (round-7, VERDICT
    # r6 next #6: one fewer action in init)
    from pyspark.sql import Observation

    obs = Observation()
    assigned = assigned.observe(obs, F.count(F.lit(1)).alias("n"))
    _append_lists(
        assigned, _lists_path(index_dir, 0), 0, "init", n_parts=n_centroids
    )
    trained_on = int(obs.get["n"])
    meta = {
        "version": 0,
        "lists_epoch": 0,
        "n_centroids": n_centroids,
        "train_cap": cap,
        "kmeans_iters": kmeans_iters,
        "trained_on": trained_on,
        "appended_since_train": 0,
        "base_cos": _mean_assign_cos(sample_rows, cents),
        "sample_seq": 0,
        "seq_committed": 0,
        "last_batch": None,
        "pq": bool(pq),
        "pq_sub": ((dim // PQ_M) if dim else PQ_SUB) if pq else None,
        "pq_residual": bool(pq and residual),
    }
    write_sidecar(index_dir, _META, meta)
    return meta


_RESERVED_INGEST = {"init", "compact", "seq", "b"}


def _validate_stream_id(stream_id: str) -> None:
    """The ingest tag is `{stream_id}-{batch_id}` and doubles as a
    partition DIRECTORY name, so the stream id is WHITELISTED to
    [A-Za-z0-9_.]: beyond the '-' separator (tag aliasing => a retry
    purge deletes another run's rows), any character Spark's partition
    writer URL-escapes (':', '%', '#', quotes, ...) would make the
    written directory (`ingest=run%3A1-0`) differ from the raw tag
    _purge_ingest joins — the purge would silently miss and a crashed
    retry would duplicate vectors (round-7 review)."""
    import re

    if not stream_id or not re.fullmatch(r"[A-Za-z0-9_.]+", stream_id):
        raise ValueError(
            f"stream_id {stream_id!r} must be non-empty and contain only "
            "[A-Za-z0-9_.] (the tag becomes a partition directory name)"
        )
    if stream_id in _RESERVED_INGEST:
        raise ValueError(
            f"stream_id {stream_id!r} is reserved (init/compact/seq/b)"
        )


def append_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    retrain_ratio: float = 0.5,
    drift_margin: float = 0.05,
    dim: int | None = None,
    batch_id: int | None = None,
    stream_id: str | None = None,
) -> dict:
    """One micro-batch of (vec_id, embedding): assign against the CURRENT
    centroids (map-side broadcast argmax over |batch| rows), append to the
    lists store, fold the batch into the bounded reservoir, and re-train
    when either trigger fires:

      ratio: appended_since_train / trained_on >= retrain_ratio (the
             index has grown past what the centroids were trained on), or
      drift: the reservoir's mean assignment cosine under the CURRENT
             centroids fell more than drift_margin below the value at
             train time (the distribution moved, wherever it moved to).

    Per-batch cost: |batch| + TRAIN_CAP rows. The lists store is NEVER
    read. Returns stats: {batch_rows, version, retrained, mean_cos}.

    `batch_id` (foreachBatch's epoch) makes retries IDEMPOTENT: a batch
    at or below its stream's ledger line, or equal to the legacy
    committed `last_batch`, is skipped outright — compaction collapses
    committed ingest tags, so a replay can no longer find them to purge
    — and a retry of a batch that crashed mid-append first purges its
    own ingest partition directories before re-appending. Batch ids must
    be MONOTONIC per stream (foreachBatch epochs are).
    `stream_id` namespaces the tags: epoch ids RESET when a stream is
    restarted with a fresh checkpoint, and without a namespace the new
    run's batch 0 would purge the old run's committed batch-0 rows
    (round-6 review #2) — point each new checkpoint at a new stream_id
    (ivf_foreach_batch's docstring spells out the contract)."""
    if stream_id is not None:
        _validate_stream_id(stream_id)
    _recover_lists(index_dir)
    meta = read_sidecar(index_dir, _META)
    batch_key = (
        None if batch_id is None else f"{stream_id or 'b'}-{batch_id}"
    )
    # pre-round-7 builds committed last_batch as '{stream}:{id}' — honor
    # it so an index written before the upgrade keeps its skip-guard
    # across the format change (round-7 review #3)
    legacy_key = (
        None if batch_id is None else f"{stream_id or 'b'}:{batch_id}"
    )
    if batch_key is not None and (
        meta.get("last_batch") in (batch_key, legacy_key)
        or ledger_done(meta, stream_id or "b", batch_id)
    ):
        return {
            "batch_rows": 0,
            "version": meta["version"],
            "retrained": False,
            "mean_cos": float(meta["base_cos"]),
            "skipped_duplicate": True,
        }
    version = int(meta["version"])
    lists_path = _lists_path(index_dir, int(meta.get("lists_epoch", 0)))
    cap = int(meta["train_cap"])
    cents = sorted(
        load_centroids(index_dir, version), key=lambda r: r["cent_id"]
    )
    cents_b = spark.createDataFrame(
        [(c["cent_id"], c["c_emb"]) for c in cents],
        "cent_id bigint, c_emb array<double>",
    )
    batch = batch.select("vec_id", "embedding")
    assigned = _assign_to_centroids(batch, cents_b, dim)
    pq_enabled = bool(meta.get("pq"))
    pq_res = bool(meta.get("pq_residual"))
    if pq_enabled:
        # encode with the CURRENT generation's (frozen) codebook — rows
        # appended under version v carry version-v codes, and probes
        # score each generation with its own LUTs, mirroring the
        # per-generation centroid discipline
        cbv = load_pq_cb(index_dir, version)
        assigned = (
            pq_encode_residual(
                assigned.join(F.broadcast(cents_b), "cent_id"), cbv
            ).drop("c_emb")
            if pq_res
            else pq_encode_cols(assigned, cbv)
        )
    new_seq = int(meta["sample_seq"]) + 1
    # '-' separates namespace from id so distinct (stream_id, batch_id)
    # pairs can never alias one tag (round-7 review: 'a1'+2 vs 'a'+12 both
    # read 'a12' unseparated, and a retry purge under the aliased tag
    # deletes ANOTHER run's committed rows); the batch-less path gets the
    # reserved 'seq-' prefix, and _validate_stream_id rejects stream ids
    # that contain the separator or shadow a reserved prefix.
    #
    # Batch-less tag numbering rides its OWN committed watermark
    # (`seq_committed`), NOT the reservoir's sample_seq (round-8 review):
    # sample_seq advances on EVERY append, so a crashed batch-less
    # attempt's tag (seq-{s+1}) could be overtaken by interleaved
    # batch-id'd appends — the retry would recompute a DIFFERENT tag and
    # miss its own residue, and compaction would launder the orphan into
    # the permanent 'compact' partition once sample_seq passed it. The
    # watermark only advances when a batch-less append COMMITS, so a
    # retry always recomputes the same tag (purge finds the residue),
    # and compact_index collapses only seq tags at or below the
    # watermark — uncommitted residue stays purgeable in the new epoch.
    # Legacy indexes (no seq_committed in meta) inherit sample_seq as
    # the watermark: every legacy seq tag was numbered <= sample_seq at
    # commit time, and new tags start strictly above it.
    seq_committed = int(meta.get("seq_committed", meta["sample_seq"]))
    tag_seq = seq_committed + 1
    ingest = (
        f"{stream_id or 'b'}-{batch_id}"
        if batch_id is not None
        else f"seq-{tag_seq}"
    )
    _purge_ingest(lists_path, ingest)  # residue of a crashed prior attempt
    if batch_id is not None:
        # a crashed attempt from a PRE-round-7 build wrote its residue
        # under the unseparated tag layout — purge that too, or the retry
        # appends on top of it (round-7 review #3). This touches only the
        # legacy layout, which was alias-unsafe by construction; new-form
        # tags are never affected.
        _purge_ingest(lists_path, f"{stream_id or 'b'}{batch_id}")
    obs = Observation()  # batch count rides the write job (round 7)
    assigned = assigned.observe(obs, F.count(F.lit(1)).alias("n"))
    _append_lists(assigned, lists_path, version, ingest, n_parts=len(cents))
    n = int(obs.get["n"])
    # fold the batch into the reservoir: the distributed part is only the
    # batch's own heap top-k (TakeOrdered, one job); the CURRENT reservoir
    # is TRAIN_CAP rows on disk, read back driver-side with pyarrow and
    # merged in memory — top-cap(old) is already the whole old reservoir,
    # so top-cap(old-rows ++ top-cap(batch)) == top-cap(old ∪ batch)
    # exactly (round 7: was a Spark read+union+TakeOrdered job). Written
    # to a NEW seq path (immutable files; the sidecar flips after).
    old_rows = _read_sample_rows(index_dir, int(meta["sample_seq"]))
    batch_top = _take_sample(batch, cap).collect()
    sample_rows = sorted(
        list(old_rows) + list(batch_top),
        key=lambda r: (_py_bucket(r["vec_id"]), r["vec_id"]),
    )[:cap]
    _write_sample_rows(index_dir, new_seq, sample_rows)
    meta["sample_seq"] = new_seq
    meta["appended_since_train"] = int(meta["appended_since_train"]) + n
    mean_cos = _mean_assign_cos(sample_rows, cents)
    ratio_fire = meta["appended_since_train"] >= retrain_ratio * max(
        int(meta["trained_on"]), 1
    )
    drift_fire = mean_cos < float(meta["base_cos"]) - drift_margin
    retrained = False
    if ratio_fire or drift_fire:
        new_cents = _train_centroids(
            sample_rows, int(meta["n_centroids"]), int(meta["kmeans_iters"])
        )
        version += 1
        _write_cents(
            index_dir,
            [{"version": version, **c} for c in new_cents],
            append=True,
        )
        if pq_enabled:
            # a new centroid generation gets a new codebook trained on
            # the same refreshed reservoir (same subspace geometry as
            # birth, recorded in meta); written BEFORE the meta commit
            # with the same replace-on-retry discipline, so a crash
            # between the two leaves a retried retrain to REPLACE both
            # sidecars' orphan generation
            _new_cb = (
                pq_train_residual_local(
                    sample_rows,
                    new_cents,
                    n_sub=PQ_M,
                    sub=int(meta.get("pq_sub") or PQ_SUB),
                )
                if pq_res
                else pq_train_local(
                    sample_rows,
                    n_sub=PQ_M,
                    sub=int(meta.get("pq_sub") or PQ_SUB),
                )
            )
            _write_pq_cb(
                index_dir,
                [{"version": version, **r} for r in _new_cb],
                append=True,
            )
        meta["version"] = version
        meta["trained_on"] = int(meta["trained_on"]) + int(
            meta["appended_since_train"]
        )
        meta["appended_since_train"] = 0
        meta["base_cos"] = _mean_assign_cos(sample_rows, new_cents)
        retrained = True
    if batch_key is not None:
        meta["last_batch"] = batch_key
        ledger_commit(meta, stream_id or "b", batch_id)
    # persist the batch-less commit watermark: advance it on a batch-less
    # commit, and pin the legacy-inherited value on any other append so
    # the upgrade point can't drift with later sample_seq growth
    meta["seq_committed"] = tag_seq if batch_id is None else seq_committed
    write_sidecar(index_dir, _META, meta)
    expire_epochs(index_dir, _SAMPLE_EPOCH, new_seq)
    return {
        "batch_rows": n,
        "version": meta["version"],
        "retrained": retrained,
        "mean_cos": mean_cos,
    }


def _stable_snapshot(
    index_dir: str, with_pq: bool = False
) -> tuple[int, list, list, dict]:
    """Take an (epoch, centroids[, pq codebooks]) snapshot that is
    CONSISTENT under concurrent retrain/compaction (compare-and-retry,
    round-8 review): the lists epoch is read FIRST, the sidecars second,
    and the epoch is RE-READ after — if it moved, a compaction published
    between the reads and the whole snapshot is retaken. A stable epoch
    across the sidecar loads guarantees they are a SUPERSET of the
    generations that epoch stores (rows are only assigned under a
    generation whose sidecars were written first, and compact_index
    collapses sidecars strictly AFTER its epoch flip). Returns (epoch,
    cents_rows, pq_rows); pq_rows is [] unless with_pq."""
    for _ in range(8):
        meta = read_sidecar(index_dir, _META)
        epoch = int(meta.get("lists_epoch", 0))
        cents_rows = load_centroids(index_dir)
        pq_rows = load_pq_cb(index_dir) if with_pq else []
        if _lists_epoch(index_dir) == epoch:
            return epoch, cents_rows, pq_rows, meta
    # 8 compactions during 8 snapshot attempts: not a live race
    raise RuntimeError(
        f"could not take a stable (epoch, sidecars) snapshot of "
        f"{index_dir}: the lists epoch moved on every of 8 attempts "
        "(is a compaction loop running unpaced?)"
    )


def tombstones(spark: SparkSession, index_dir: str) -> DataFrame:
    """The removed-vector set, appended by remove_vectors. Probes
    anti-join it BEFORE ranking (a removed vector must not occupy a
    top-k slot), and compact_index drops tombstoned rows from the
    rewrite — the physical-erasure point."""
    return read_tombstones(spark, index_dir, _META, "vec_id")


def remove_vectors(
    spark: SparkSession,
    index_dir: str,
    removed: DataFrame,
    batch_id: int | None = None,
    stream_id: str = "d",
) -> dict:
    """CDC-delete fold for the ANN index (round 10, VERDICT r9 next #1):
    FORGET a batch of vectors. Unlike the cluster store there is no
    graph to recompute — a vector's removal affects only its own rows —
    so the fold is (1) ledger gate, (2) tombstone append (probes filter
    from the next read on), (3) PURGE from the training reservoir (the
    reservoir stores raw embeddings; a GDPR forget must erase them, and
    a future re-train must not learn from ghosts). List rows remain on
    disk until compact_index rewrites without them — the same
    tombstone-then-compact lifecycle as Lucene deletes or Iceberg
    delete files. WRITER-EXCLUSIVE like append_batch (run from the
    ingest loop).

    Re-adding a forgotten vec_id later is NOT automatic: the tombstone
    is a forget, not a version marker — an upsert stream should route
    deletes here only for true forgets and model updates as
    remove+append under a fresh vec_id."""
    _validate_stream_id(stream_id)
    meta = read_sidecar(index_dir, _META)
    if ledger_done(meta, stream_id, batch_id):
        return {"n_removed": 0, "n_reservoir_purged": 0,
                "skipped_duplicate": True}
    removed = removed.select(
        F.col("vec_id").cast("bigint").alias("vec_id")
    ).distinct()
    # request-bounded collect: the id set drives the reservoir purge
    ids = {int(r["vec_id"]) for r in removed.collect()}
    append_tombstones(
        spark.createDataFrame([(i,) for i in sorted(ids)], "vec_id bigint"),
        index_dir, _META,
    )
    # reservoir purge: rewrite the TRAIN_CAP-bounded sample minus the
    # forgotten ids under a NEW seq (atomic via the meta flip; the old
    # file is GC'd with the usual retention)
    seq = int(meta.get("sample_seq", 0))
    rows = _read_sample_rows(index_dir, seq)
    kept = [r for r in rows if int(r["vec_id"]) not in ids]
    n_purged = len(rows) - len(kept)
    new_seq = seq
    if n_purged:
        new_seq = seq + 1
        _write_sample_rows(index_dir, new_seq, kept)
    publish(
        index_dir, _META, key=stream_id, batch_id=batch_id,
        sample_seq=new_seq,
    )
    if n_purged:
        expire_epochs(index_dir, _SAMPLE_EPOCH, new_seq)
    return {
        "n_removed": len(ids),
        "n_reservoir_purged": n_purged,
        "skipped_duplicate": False,
    }


def readmit_vectors(
    spark: SparkSession,
    index_dir: str,
    readmitted: DataFrame,
    batch_id: int | None = None,
    stream_id: str = "d",
) -> dict:
    """TOMBSTONE-CLEAR / re-admit fold (the DMCA-counter-notice path):
    remove vec_ids from the tombstone set so FUTURE appends under those
    ids index normally again, ledgered under '{stream_id}!ra'. After
    compaction has physically erased the rows, this restores NOTHING by
    itself — re-ingestion via append_batch is the only way back, with
    exactly never-seen semantics; BEFORE compaction the still-on-disk
    list rows become probe-visible again immediately (the reservoir
    purge is not undone either way, so a future re-train learns the
    vector only if it is re-appended)."""
    _validate_stream_id(stream_id)
    return readmit_tombstones(
        spark, index_dir, _META, "vec_id", readmitted,
        key=f"{stream_id}!ra", batch_id=batch_id,
    )


def probe_index(
    spark: SparkSession,
    queries: DataFrame,
    index_dir: str,
    nprobe: int = 2,
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k against the maintained index: per LIVE centroid version,
    pick each query's nprobe nearest lists (driver-side over the tiny
    centroid table — versions x n_centroids cosines per query), then join
    the probe table against the lists store on (version, cent_id) —
    partition-pruned to the probed directories — and exact-rank inside
    them (two-stage, no single-task sorts). Rows assigned under an old
    generation are probed under THAT generation's geometry, so a re-train
    never silently orphans them. `queries` must have (query_id, q_emb).

    Snapshot discipline vs a concurrent compaction (compare-and-retry,
    round-8 review): the lists epoch is read FIRST, centroids second,
    and the epoch is RE-READ after the centroid load — if it moved, a
    compaction published between the reads and the pair is retaken.
    A stable epoch across the centroid load guarantees the centroid
    snapshot is a SUPERSET of the generations that epoch stores: rows
    are only ever assigned under a generation whose centroids were
    written first (append_batch/init), and compact_index collapses the
    sidecar strictly AFTER its epoch flip — which the re-read would
    have caught. The previous order (centroids first, epoch second) had
    a hole: a retrain + compaction completing BETWEEN the two reads
    left the new epoch's rows under a generation the stale centroid
    snapshot lacked, and the probe silently scanned nothing. A probe
    leg for a generation the epoch lacks still scans an empty partition
    and contributes nothing."""
    _recover_lists(index_dir)
    epoch, cents_rows, _, _ = _stable_snapshot(index_dir)
    by_version: dict[int, list] = {}
    for r in cents_rows:
        by_version.setdefault(int(r["version"]), []).append(r)
    query_rows = queries.collect()
    if not query_rows:
        # an empty micro-batch of queries must not fall through to an
        # UNFILTERED lists scan (pred stays None below) — short-circuit
        # with the result schema
        return spark.createDataFrame(
            [], "query_id bigint, vec_id bigint, rank int, cosine double"
        )
    probe_rows = []
    for q in query_rows:
        for ver, cl in by_version.items():
            ranked = sorted(
                (-_py_cosine(q["q_emb"], c["c_emb"]), c["cent_id"])
                for c in cl
            )[:nprobe]
            probe_rows += [
                (ver, cid, q["query_id"], list(q["q_emb"]))
                for _, cid in ranked
            ]
    probes = spark.createDataFrame(
        probe_rows,
        "version bigint, cent_id bigint, query_id bigint, q_emb array<float>",
    )
    lists = _probed_lists(spark, index_dir, epoch, probe_rows)
    joined = lists.join(F.broadcast(probes), ["version", "cent_id"]).filter(
        F.col("vec_id") != F.col("query_id")
    )
    # removed vectors must not occupy top-k slots (round 10)
    joined = drop_tombstoned(joined, index_dir, _META, "vec_id")
    scored = joined.select(
        "query_id",
        "vec_id",
        salt_expr("vec_id", _n_salt_buckets(joined)).alias("_salt"),
        cosine("q_emb", "embedding", dim).alias("cos"),
    )
    return two_stage_rank_topk(scored, k)


def probe_index_adc(
    spark: SparkSession,
    queries: DataFrame,
    index_dir: str,
    nprobe: int = 2,
    k: int = 5,
    cand: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """IVF-PQ probe against a pq=True index: the probed lists are scanned
    as CODES (4 one-byte codes + a norm per row, never the embeddings)
    with per-(generation, query) ADC lookup tables built driver-side from
    each generation's codebook; the per-query shortlist (`cand`, default
    PQ_CAND) then re-ranks with the exact cosine against the stored
    embeddings of the SAME pruned partitions. Same snapshot discipline,
    static (version, cent_id) partition pruning, per-generation geometry
    and two-stage ranking as probe_index — rows encoded under an old
    codebook are ADC-scored with THAT codebook's LUTs.

    Scale story: a 100 TB corpus probe reads nprobe/nlists of the CODE
    columns (a ~100x byte reduction vs the vectors — the reason IVF-PQ is
    the billion-vector default); only the Q x cand shortlist rows read
    their embedding column, and parquet's columnar layout keeps the two
    scans on the same pruned directories."""
    from cdc_rs_spark.operators.similarity import PQ_CAND

    if cand is None:
        cand = PQ_CAND
    _recover_lists(index_dir)
    epoch, cents_rows, pq_rows, meta = _stable_snapshot(
        index_dir, with_pq=True
    )
    if not pq_rows:
        raise ValueError(
            f"{index_dir} has no PQ codebooks — init_index(pq=True) "
            "indexes only (probe_index serves the exact path)"
        )
    # generations ABOVE the committed meta version are a crashed
    # retrain's orphan sidecar rows (the retry replaces them): no list
    # row can exist under them — rows are only ever appended under the
    # version committed at append time — so they are SKIPPED rather than
    # probed; requiring their codebook would turn the crash window into
    # a spurious probe failure (round-8 self-review)
    committed_version = int(meta.get("version", 0))
    pq_res = bool(meta.get("pq_residual"))
    by_version: dict[int, list] = {}
    for r in cents_rows:
        if int(r["version"]) <= committed_version:
            by_version.setdefault(int(r["version"]), []).append(r)
    cb_by_version: dict[int, list] = {}
    for r in pq_rows:
        cb_by_version.setdefault(int(r["version"]), []).append(r)
    query_rows = queries.collect()
    if not query_rows:
        return spark.createDataFrame(
            [], "query_id bigint, vec_id bigint, rank int, cosine double"
        )
    # per-(generation, query) ADC LUTs, driver-side: versions x Q x
    # PQ_M x PQ_K sequential-fold dots — a few thousand scalar ops
    probe_rows = []
    for ver, cl in by_version.items():
        cb = cb_by_version.get(ver)
        if not cb:
            # generation assigned before pq was enabled — probe_index_adc
            # refuses rather than silently skipping its rows
            raise ValueError(
                f"centroid generation {ver} has no PQ codebook in "
                f"{index_dir}; the index was not pq=True from birth"
            )
        by_mc = {(int(r["m"]), int(r["code"])): r["c_sub"] for r in cb}
        # geometry follows this generation's codebook (dropped codes
        # fill 0.0 — never looked up, no stored row carries them)
        sub = len(cb[0]["c_sub"])
        n_codes = max(int(r["code"]) for r in cb) + 1
        import math

        for q in query_rows:
            emb = [float(x) for x in q["q_emb"]]
            lut = [
                [
                    _py_dot(_py_sub(emb, m, sub), by_mc[(m, c)])
                    if (m, c) in by_mc
                    else 0.0
                    for c in range(n_codes)
                ]
                for m in range(PQ_M)
            ]
            n2 = 0.0
            for x in emb:
                n2 += x * x
            ranked = sorted(
                (-_py_cosine(q["q_emb"], c["c_emb"]), c["cent_id"])
                for c in cl
            )[:nprobe]
            # residual indexes regain the coarse term dot(q, c) exactly,
            # one value per probed list (driver-side — the same IEEE fold
            # as the distributed dot and the batch oracle)
            c_emb_by_id = {c["cent_id"]: c["c_emb"] for c in cl}
            probe_rows += [
                (
                    ver, cid, int(q["query_id"]), lut, math.sqrt(n2),
                    _py_dot(emb, c_emb_by_id[cid]) if pq_res else 0.0,
                )
                for _, cid in ranked
            ]
    probes = spark.createDataFrame(
        probe_rows,
        "version bigint, cent_id bigint, query_id bigint, "
        "lut array<array<double>>, qnorm double, qc double",
    )
    pruned = _probed_lists(spark, index_dir, epoch, probe_rows)
    joined = (
        pruned.select("version", "cent_id", "vec_id", "codes", "rnorm")
        .join(F.broadcast(probes), ["version", "cent_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    # removed vectors leave the ADC shortlist too (round 10); the exact
    # re-rank below joins on the shortlist's vec_ids, so one filter here
    # covers both stages
    joined = drop_tombstoned(joined, index_dir, _META, "vec_id")
    short = pq_adc_rank(joined, cand, with_qc=pq_res)  # (query_id, vec_id)
    qdf = spark.createDataFrame(
        [
            (int(q["query_id"]), [float(x) for x in q["q_emb"]])
            for q in query_rows
        ],
        "query_id bigint, q_emb array<float>",
    )
    rr = pruned.select("vec_id", "embedding").join(
        F.broadcast(short), "vec_id"
    ).join(F.broadcast(qdf), "query_id")
    scored = rr.select(
        "query_id",
        "vec_id",
        salt_expr("vec_id", _n_salt_buckets(rr)).alias("_salt"),
        cosine("q_emb", "embedding", dim).alias("cos"),
    )
    return two_stage_rank_topk(scored, k)


def live_versions(index_dir: str) -> list[int]:
    """The centroid generations a probe fans out across, sorted. Probe
    cost is linear in this count (nprobe lists scanned PER live version),
    which is why ivf_foreach_batch bounds it via compact_after_versions."""
    return sorted({int(r["version"]) for r in load_centroids(index_dir)})


def assert_probe_pruned(result: DataFrame, allow_empty: bool = False) -> None:
    """Plan-shape guard for a probe result: the lists FileScan must carry
    PartitionFilters over BOTH partition columns — the static (version,
    cent_id) disjunction probe_index pushed. Raises AssertionError with
    the offending plan segment otherwise. Cheap (string inspection of the
    already-built plan), so the streaming probe can afford it per batch.
    `allow_empty` accepts the empty-query-batch short-circuit (a
    LocalTableScan that never touches the lists store)."""
    plan = result._jdf.queryExecution().executedPlan().toString()
    # the lists store is the ONLY parquet FileScan in a probe plan (the
    # query/probe side is an in-memory relation); match on that rather
    # than the directory name, which the plan printer truncates out of
    # long tmp paths
    scans = [
        seg
        for seg in plan.split("+-")
        if "FileScan parquet" in seg
    ]
    if not scans and allow_empty and "FileScan" not in plan:
        return
    assert scans, f"no lists FileScan in probe plan:\n{plan}"
    for seg in scans:
        assert "PartitionFilters" in seg, seg
        pf = seg.split("PartitionFilters")[1][:400]
        assert "version" in pf and "cent_id" in pf, seg


def probe_foreach_batch(
    index_dir: str,
    nprobe: int = 2,
    k: int = 5,
    dim: int | None = None,
    on_result: Callable[[DataFrame, int], None] | None = None,
    check_pruning: bool = True,
) -> Callable[[DataFrame, int], None]:
    """The QUERY-STREAM form (VERDICT r6 next #3): each micro-batch of
    (query_id, q_emb) rows probes the LIVE index — the generation set is
    re-read per batch, so queries arriving after a retrain automatically
    probe the new generation alongside the old ones, and `on_result`
    receives the top-k DataFrame plus the batch id.

    Consistency contract with a CONCURRENT ingest stream: probe_index
    snapshots the centroid sidecar, then the lists epoch, and scans only
    the (version, cent_id) partition directories derived from that
    snapshot. List files are append-only WITHIN an epoch and a
    generation's centroids are written BEFORE any row is assigned under
    it, so every probed partition is explained by a centroid the
    snapshot already had — a probe landing between an append and a
    retrain sees a consistent, possibly slightly stale, index; never a
    torn one; compact_index's epoch retention keeps a mid-scan probe's
    files.

    `check_pruning` keeps the per-batch plan assertion on (the r6 scale
    guard) — the probe never silently degrades to a full lists scan."""

    def step(batch: DataFrame, batch_id: int) -> None:
        result = probe_index(
            batch.sparkSession, batch, index_dir, nprobe=nprobe, k=k,
            dim=dim,
        )
        if check_pruning:
            assert_probe_pruned(result, allow_empty=True)
        if on_result is not None:
            on_result(result, batch_id)

    return step


def compact_index(
    spark: SparkSession,
    index_dir: str,
    dim: int | None = None,
    keep_epochs: int = 2,
) -> int:
    """The DELIBERATE corpus rewrite: reassign every stored vector to the
    LATEST centroid generation and rewrite the lists as one version into
    a new epoch. This is the only operation here that scans the lists
    store — run it like a table OPTIMIZE, not per batch. Returns the
    number of rows rewritten.

    The centroid sidecar collapses AFTER the epoch flip, so a probe that
    snapshotted the old epoch still sees every generation its files need
    (see probe_index). WRITER-EXCLUSIVE: a batch appended to the
    superseded epoch during the rewrite would be absent from the
    published one, and the centroid collapse would clobber a concurrent
    retrain's commit. Run it from the ingest loop (ivf_foreach_batch
    does) or with ingest paused.

    Ingest tags of COMMITTED batches (plus init/compact, and seq tags at
    or below the batch-less watermark `seq_committed`) collapse into one
    'compact' partition — keeping every per-batch tag would leave the
    epoch with O(n_batches x n_centroids) tiny directories. Uncommitted
    tags are preserved (store.uncommitted_tags), so a retry's
    _purge_ingest still finds them; replays of collapsed batches are
    skipped by append_batch's ledger guard instead."""
    _recover_lists(index_dir)
    meta = read_sidecar(index_dir, _META)
    version = int(meta["version"])
    epoch = int(meta.get("lists_epoch", 0))
    cents_rows = load_centroids(index_dir, version)
    cents_b = spark.createDataFrame(
        [(r["cent_id"], list(r["c_emb"])) for r in cents_rows],
        "cent_id bigint, c_emb array<double>",
    )
    rows = spark.read.parquet(_lists_path(index_dir, epoch)).select(
        "vec_id", "embedding", "ingest"
    )
    # physical erasure of tombstoned vectors rides the rewrite (round
    # 10): the new epoch is born clean; superseded epochs' copies expire
    # with the usual keep_epochs retention, so the tombstone set keeps
    # filtering probes until then
    rows = drop_tombstoned(rows, index_dir, _META, "vec_id")
    assigned = _assign_to_centroids(rows, cents_b, dim, keep=("ingest",))
    if bool(meta.get("pq")):
        # the rewrite reassigns every row to the LATEST generation, so
        # codes are RE-ENCODED against that generation's codebook — the
        # re-encode pass real IVF-PQ deployments fold into their
        # OPTIMIZE/rewrite for exactly this reason
        assigned = pq_encode_cols(assigned, load_pq_cb(index_dir, version))
    # collapse committed tags, preserve possibly-retryable ones (policy
    # in the docstring). Tag grammar: '{stream}-{id}' (stream contains no
    # '-', enforced by _validate_stream_id), 'seq-{n}', 'init',
    # 'compact', or an unparseable legacy tag.
    # seq tags collapse against the batch-less COMMIT watermark, not the
    # reservoir's sample_seq (round-8 review): sample_seq advances on
    # every append, so comparing against it laundered a crashed
    # batch-less attempt's residue into the permanent 'compact'
    # partition as soon as any later append committed. Legacy indexes
    # (no seq_committed) inherit sample_seq — their seq tags were all
    # numbered at or below it at commit time.
    seq_committed = int(
        meta.get("seq_committed", meta.get("sample_seq", 0))
    )
    keep_tag = uncommitted_tags(
        meta, "seq", seq_committed, base_tags=("init", "compact")
    )
    assigned = assigned.withColumn(
        "ingest", F.when(keep_tag, F.col("ingest")).otherwise(F.lit("compact"))
    )
    new_epoch = epoch + 1
    obs = Observation()  # count rides the rewrite, no re-read job (r7)
    (
        assigned.observe(obs, F.count(F.lit(1)).alias("n"))
        .repartition(max(len(cents_rows), 1), "cent_id")
        .withColumn("version", F.lit(version))
        # overwrite clears the residue of a crashed prior attempt at this
        # epoch (the dir is unpublished until the meta flip below)
        .write.mode("overwrite")
        .partitionBy("version", "cent_id", "ingest")
        .parquet(_lists_path(index_dir, new_epoch))
    )
    n = int(obs.get["n"])
    meta = publish(index_dir, _META, lists_epoch=new_epoch)
    # collapse centroid generations — strictly after the flip, so
    # (cents-then-epoch) probe snapshots can never pair collapsed
    # centroids with a pre-compact epoch. Generations NEWER than the
    # compacted one are preserved: under the writer-exclusive contract
    # none exist, but if an out-of-band compact ever races a retrain,
    # dropping the racing generation would leave the index's live
    # version with zero centroids (round-7 review) — keeping it degrades
    # the race to a stale-but-consistent index instead.
    newer = [
        r for r in load_centroids(index_dir) if int(r["version"]) > version
    ]
    _write_cents(
        index_dir,
        [{"version": version, **r} for r in cents_rows] + newer,
        append=False,
    )
    if bool(meta.get("pq")):
        # collapse the PQ sidecar in lockstep with the centroids (same
        # keep-newer race degradation)
        _write_pq_cb(
            index_dir,
            [
                r
                for r in load_pq_cb(index_dir)
                if int(r["version"]) >= version
            ],
            append=False,
        )
    expire_epochs(index_dir, _LISTS_EPOCH, new_epoch - keep_epochs)
    return n


def ivf_foreach_batch(
    index_dir: str,
    retrain_ratio: float = 0.5,
    drift_margin: float = 0.05,
    dim: int | None = None,
    on_stats: Callable[[dict, int], None] | None = None,
    stream_id: str | None = None,
    compact_after_versions: int | None = 4,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch form: per micro-batch of (vec_id, embedding), run
    append_batch against the persisted index; `on_stats` receives the
    stats dict and batch id (drive alerts/metrics from it).

    `stream_id` IS the idempotence contract: epoch ids are scoped to a
    CHECKPOINT, so resuming from the same checkpoint may pass any
    stream_id (or none) consistently, but pointing a FRESH checkpoint at
    an existing index requires a NEW stream_id (e.g. the query's runId) —
    otherwise the new run's epoch 0 retry-purge would delete the old
    run's committed epoch-0 rows.

    `compact_after_versions` is the COMPACTION POLICY (VERDICT r6 next
    #4): probe cost fans out linearly in live centroid generations
    (nprobe lists scanned per version), so unbounded retrains under
    continuous ingest grow every probe. After a retrain pushes the live
    generation count ABOVE this bound, the batch runs compact_index —
    the deliberate corpus rewrite — collapsing to one generation. The
    trigger rides the retrain (generations only grow there), so steady
    non-retraining ingest never pays a compaction scan. None disables
    (operate compaction out-of-band like a table OPTIMIZE). Probe
    fan-out is thus bounded by compact_after_versions x nprobe file
    groups (SCALE.md §16)."""
    if stream_id is not None:
        _validate_stream_id(stream_id)  # fail at wiring, not mid-stream
    if compact_after_versions is not None and compact_after_versions < 1:
        raise ValueError("compact_after_versions must be >= 1 or None")

    def step(batch: DataFrame, batch_id: int) -> None:
        stats = append_batch(
            batch.sparkSession,
            batch,
            index_dir,
            retrain_ratio=retrain_ratio,
            drift_margin=drift_margin,
            dim=dim,
            batch_id=batch_id,
            stream_id=stream_id,
        )
        stats["compacted"] = False
        if (
            stats["retrained"]
            and compact_after_versions is not None
            and len(live_versions(index_dir)) > compact_after_versions
        ):
            compact_index(batch.sparkSession, index_dir, dim=dim)
            stats["compacted"] = True
        if on_stats is not None:
            on_stats(stats, batch_id)

    return step
