"""The durable substrate of the four retraction-aware streaming stores:
the cluster map (clusters.py), the additive monoid store (additive.py),
the IVF index (ivf.py) and the span store (spans.py). Each store is a
root directory of immutable parquet directories plus one JSON sidecar
that names the live ones. This module is the only code that writes a
sidecar, flips a pointer or carries a file forward, so these disciplines
hold once for all four:

  - durability: a sidecar or pointer file is written to a temp file,
    fsynced, renamed over the old one, and its directory is fsynced. A
    reader sees the old file or the new one, also after an OS crash;
  - ledger idempotence: the sidecar's `last_batch_by_stream` maps each
    ledger line to its highest committed batch id. A line is a stream
    id, or `{stream}!rm` / `{stream}!ra` for a store's remove and
    readmit folds, so those never advance the ingest line. A fold at or
    below its line is skipped. A fold appends its data first and commits
    its line last, in the sidecar write that publishes the data, so a
    crash in between leaves residue that the retry overwrites or purges;
  - epoch publication: a rewrite (compaction, rebuild, purge, readmit)
    writes a NEW directory, and one sidecar write or pointer flip makes
    it live. A reader resolves names through one sidecar read, so it
    sees one consistent epoch. A crash before the flip leaves an orphan
    directory that the retried rewrite overwrites;
  - keep-epochs retention: a superseded epoch is deleted only once it is
    `keep_epochs` rewrites old, so a reader mid-scan keeps its files;
  - tombstones: removed ids append to one skinny parquet set, which
    reads anti-join and the next rewrite erases physically. Readmit
    rewrites the set minus the readmitted ids into `tomb-NNNNNN` and
    flips the sidecar's `tomb_dir`.

Stores are writer-exclusive: one fold, compaction or rewrite at a time
per root, and any number of concurrent readers.
"""

from __future__ import annotations

import errno
import json
import os
import re
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LEDGER = "last_batch_by_stream"

# ---- sidecars --------------------------------------------------------------


def _replace_durably(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    fd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(fd)  # the rename itself survives an OS crash
    finally:
        os.close(fd)


def read_sidecar(root: str, name: str):
    with open(os.path.join(root, name)) as f:
        return json.load(f)


def write_sidecar(root: str, name: str, obj) -> None:
    _replace_durably(os.path.join(root, name), json.dumps(obj))


def publish(
    root: str,
    name: str,
    edit: Callable[[dict], None] | None = None,
    *,
    key: str | None = None,
    batch_id: int | None = None,
    bump: tuple[str, ...] = (),
    **fields,
) -> dict:
    """A store's publish point: re-read the sidecar (never revert a line
    committed since the caller's first read), set `fields`, increment
    each counter in `bump`, apply `edit`, commit ledger line `key` for
    `batch_id`, and write it durably. Returns the written sidecar."""
    meta = read_sidecar(root, name)
    meta.update(fields)
    for counter in bump:
        meta[counter] = int(meta.get(counter, 0)) + 1
    if edit is not None:
        edit(meta)
    if key is not None:
        ledger_commit(meta, key, batch_id)
    write_sidecar(root, name, meta)
    return meta


# ---- ledger ----------------------------------------------------------------


def ledger_done(meta: dict, key: str, batch_id: int | None) -> bool:
    """True when `batch_id` is at or below ledger line `key` (a replay).
    A batch-less fold (None) is never a replay."""
    return batch_id is not None and int(batch_id) <= int(
        (meta.get(LEDGER) or {}).get(key, -1)
    )


def ledger_commit(meta: dict, key: str, batch_id: int | None) -> None:
    """Raise ledger line `key` to `batch_id` in `meta`; a line never
    moves down, and no other line moves."""
    if batch_id is None:
        return
    led = dict(meta.get(LEDGER) or {})
    led[key] = max(int(led.get(key, -1)), int(batch_id))
    meta[LEDGER] = led


def uncommitted_tags(
    meta: dict, seq_tag: str, seq_line: int, base_tags: tuple[str, ...]
) -> Column:
    """True for `ingest` partition tags above their ledger line: a
    crashed fold's residue that its retry purges. A rewrite keeps those
    partitions verbatim; folding them into committed state would make
    the retry's re-append count twice. `{stream}-{batch}` tags compare
    with the stream's line, `{seq_tag}-{n}` tags with the batch-less
    watermark `seq_line`; `base_tags` are committed, and tags that do
    not parse are kept."""
    ledger = meta.get(LEDGER) or {}
    sid = F.regexp_extract("ingest", r"^(.+)-(\d+)$", 1)
    bid = F.regexp_extract("ingest", r"^(.+)-(\d+)$", 2)
    bid_i = F.when(bid != F.lit(""), bid.cast("bigint"))
    committed = F.lit(-1)
    if ledger:
        commap = F.create_map(
            *[
                x
                for k, v in sorted(ledger.items())
                for x in (F.lit(k), F.lit(int(v)))
            ]
        )
        committed = F.coalesce(F.element_at(commap, sid), F.lit(-1))
    return (
        F.when(F.col("ingest").isin(*base_tags), F.lit(False))
        .when(sid == F.lit(""), F.lit(True))
        .when(sid == F.lit(seq_tag), bid_i > F.lit(seq_line))
        .otherwise(bid_i > committed)
    )


# ---- tombstones ------------------------------------------------------------


def tomb_path(root: str, name: str) -> str:
    """The live tombstone directory: the sidecar's `tomb_dir` once a
    readmit or compaction has rewritten the set, else `tomb`."""
    try:
        tomb = read_sidecar(root, name).get("tomb_dir") or "tomb"
    except FileNotFoundError:
        tomb = "tomb"
    return os.path.join(root, tomb)


def read_tombstones(
    spark: SparkSession, root: str, name: str, col: str
) -> DataFrame:
    """The removed-id set, one bigint column `col`; bounded by total
    deletes, never by corpus size."""
    p = tomb_path(root, name)
    if not os.path.isdir(p):
        return spark.createDataFrame([], f"{col} bigint")
    return spark.read.schema(f"{col} bigint").parquet(p)


def drop_tombstoned(
    df: DataFrame, root: str, name: str, col: str, on: str | None = None
) -> DataFrame:
    """Anti-join `df`'s column `on` (default `col`) against the broadcast
    tombstone set; no scan at all before the first removal."""
    if not os.path.isdir(tomb_path(root, name)):
        return df
    on = on or col
    tomb = read_tombstones(df.sparkSession, root, name, col)
    return df.join(
        F.broadcast(tomb.withColumnRenamed(col, on)), on, "left_anti"
    )


def append_tombstones(ids: DataFrame, root: str, name: str) -> None:
    """Append removed ids; duplicates are harmless (set semantics)."""
    ids.write.mode("append").parquet(tomb_path(root, name))


def _rewrite_tombstones(
    root: str,
    name: str,
    kept: DataFrame,
    key: str | None = None,
    batch_id: int | None = None,
    bump: tuple[str, ...] = (),
) -> None:
    seq = int(read_sidecar(root, name).get("tomb_seq", 0)) + 1
    new = f"tomb-{seq:06d}"
    old = tomb_path(root, name)
    kept.coalesce(1).write.mode("overwrite").parquet(os.path.join(root, new))
    publish(
        root, name, key=key, batch_id=batch_id, bump=bump,
        tomb_dir=new, tomb_seq=seq,
    )
    if os.path.isdir(old) and os.path.basename(old) != new:
        shutil.rmtree(old, ignore_errors=True)


def compact_tombstones(
    spark: SparkSession, root: str, name: str, col: str
) -> None:
    """Rewrite the set as its distinct ids in one file (not truncated:
    only the set blocks an at-least-once upstream re-sending a removed
    id)."""
    if os.path.isdir(tomb_path(root, name)):
        _rewrite_tombstones(
            root, name, read_tombstones(spark, root, name, col).distinct()
        )


def readmit_tombstones(
    spark: SparkSession,
    root: str,
    name: str,
    col: str,
    readmitted: DataFrame,
    key: str,
    batch_id: int | None,
    bump: tuple[str, ...] = (),
) -> dict:
    """Clear `readmitted`'s ids from the set: the surviving set is
    written to a new `tomb-NNNNNN` dir and published with ledger line
    `key`. Both counts ride the rewrite's one write action.
    n_readmitted counts tombstones actually cleared, so clearing a
    never-removed id is a no-op."""
    if ledger_done(read_sidecar(root, name), key, batch_id):
        return {"n_readmitted": 0, "n_tombstones_left": None,
                "skipped_duplicate": True}
    ids = readmitted.select(F.col(col).cast("bigint").alias(col)).distinct()
    marked = read_tombstones(spark, root, name, col).distinct().join(
        F.broadcast(ids.withColumn("__r", F.lit(True))), col, "left"
    )
    obs = Observation()
    kept = (
        marked.observe(
            obs, F.count(F.lit(1)).alias("nb"), F.count("__r").alias("nc")
        )
        .filter(F.col("__r").isNull())
        .select(col)
    )
    _rewrite_tombstones(root, name, kept, key=key, batch_id=batch_id, bump=bump)
    n_cleared = int(obs.get["nc"])
    return {
        "n_readmitted": n_cleared,
        "n_tombstones_left": int(obs.get["nb"]) - n_cleared,
        "skipped_duplicate": False,
    }


# ---- versioned siblings ----------------------------------------------------
#
# An append directory rewritten in place would have a crash window that
# loses it. Instead the rewrite goes to a versioned sibling `{path}.vNNNNNN`
# and a one-line pointer file `{path}.current` flips to it; readers and
# appenders resolve through the pointer. A directory never rewritten stays
# bare (no pointer), so older layouts read unchanged.


def resolve_store(path: str) -> str:
    ptr = path + ".current"
    if os.path.exists(ptr):
        with open(ptr) as f:
            return path + "." + f.read().strip()
    return path


def next_sibling(path: str) -> tuple[str, int, str]:
    """(live directory, next version, that version's sibling path). A
    crashed rewrite never flipped the pointer, so its retry derives the
    same version; the orphan's stale bytes are removed here."""
    cur = resolve_store(path)
    m = re.fullmatch(re.escape(path) + r"\.v(\d+)", cur)
    nxt = int(m.group(1)) + 1 if m else 1
    sib = f"{path}.v{nxt:06d}"
    shutil.rmtree(sib, ignore_errors=True)
    return cur, nxt, sib


def flip_store(path: str, version: int) -> None:
    """Point `path` at its `.v{version}` sibling, then GC every other
    sibling and the bare dir. A crash after the flip leaves stale
    directories that the next flip GCs, never a missing store."""
    _replace_durably(path + ".current", f"v{version:06d}")
    parent = os.path.dirname(path) or "."
    base = os.path.basename(path)
    keep = base + f".v{version:06d}"
    for name in os.listdir(parent):
        if name == base or (
            re.fullmatch(re.escape(base) + r"\.v\d+", name) and name != keep
        ):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


_NO_HARDLINK = (errno.EXDEV, errno.EPERM, errno.ENOTSUP)


def carry_forward(src: str, dst: str) -> None:
    """Carry an immutable file into a new sibling by hardlink (same inode,
    no bytes copied), or by copy on a mount without hardlinks."""
    try:
        os.link(src, dst)
    except OSError as e:
        if e.errno not in _NO_HARDLINK:
            raise
        shutil.copy2(src, dst)


# ---- epoch retention -------------------------------------------------------


def epoch_dirs(root: str, pattern: str) -> list[tuple[int, str]]:
    """The directories under `root` whose name fullmatches `pattern`, as
    sorted (epoch, path); group 1 is the epoch, 0 when it does not
    participate. Patterns use \\d+: {epoch:06d} pads but never truncates."""
    out = []
    for name in os.listdir(root):
        m = re.fullmatch(pattern, name)
        path = os.path.join(root, name)
        if m and os.path.isdir(path):
            out.append((int(m.group(1) or 0), path))
    return sorted(out)


def expire_epochs(root: str, pattern: str, below: int) -> None:
    """Delete the `pattern` epochs under `root` numbered below `below`.
    Runs after the publish, so a crash leaves un-GC'd epochs only."""
    for epoch, path in epoch_dirs(root, pattern):
        if epoch < below:
            shutil.rmtree(path)
