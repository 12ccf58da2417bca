"""Spark 4 Python DataSource: the binlog tail as a FIRST-CLASS streaming
source (`spark.readStream.format("change_feed")`).

This is the idiomatic closure of SURVEY §2.1 #1's third option: instead of
relying on the built-in file source, the reference's binlog protocol is
restated against Spark's DataSourceStreamReader contract, with Spark as the
offset authority:

  reference (src/main.rs)                  this source
  ---------------------------------------  ----------------------------------
  (filename, log_pos) offset row in SQLite  {"file", "pos"} offset JSON in
    (src/main.rs:204-218)                    the checkpoint WAL (file NAME,
                                             like the reference — not a
                                             positional index, so committed
                                             files can be deleted/archived)
  RotateEvent -> switch binlog file         the offset's file name advances
    (src/main.rs:233-237)                    through the sorted file list
  TableMapEvent -> commit offset            commit() per micro-batch,
    (src/main.rs:238-255, at-least-once)     transactional (exactly-once
                                             planning, at-least-once data)
  RowsEvent -> Change per row               one JSON line -> one Change row
    (src/main.rs:256-297)

Binlog file semantics are preserved: files are append-only, only the LAST
(sorted) file may grow, rotation = a new file appears. `latestOffset()` (a
driver-side call) counts the records of the tail file and, under
maxRecordsPerBatch, of every file its admission budget walks. Each count is
memoized per reader on the file's `(st_size, st_mtime_ns)`: an append-only
file whose size is unchanged holds the same records, so a growing tail is
recounted and a frozen file is counted once per reader lifetime (for a
`.binlog` file, counting is a full decode). The memo holds only files of
the current listing. Each planned batch is sliced into one InputPartition
per file, so a backlog of N files is consumed by N parallel executor
tasks, not a driver loop.

Driver-side listing uses the local filesystem — in production the same class
points at an object-store listing or a real binlog client; the protocol
(offsets/partitions/read) is unchanged.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from cdc_rs_spark.envelope import CHANGE_SCHEMA


@dataclass
class FileSlice(InputPartition):
    """Records [start, end) of one change file; end=None means to-EOF (only
    ever used for files already frozen by a later rotation)."""

    path: str
    start: int
    end: int | None


def _list_files(path: str) -> list[str]:
    try:
        names = sorted(
            n for n in os.listdir(path) if not n.startswith(("_", "."))
        )
    except FileNotFoundError:
        return []
    return [os.path.join(path, n) for n in names]


def _count_records(fp: str, permissive: bool = False) -> int:
    """MUST equal the number of records _iter_raw/_read_slice yields for
    the same (file, mode), or offsets and slice indices misalign: in
    permissive mode a corrupt binlog tail counts as its one quarantined
    Malformed row (same +1 the reader emits); JSON counts nonblank lines
    (exactly one record each in either mode — malformed lines surface at
    READ time in failfast, by design)."""
    if fp.endswith(".binlog"):
        return sum(1 for _ in _iter_raw(fp, permissive))
    with open(fp, "rb") as f:
        return sum(1 for line in f if line.strip())


ARROW_BATCH_ROWS = 4096


def _arrow_schema():
    import pyarrow as pa

    img = pa.map_(pa.string(), pa.string())
    return pa.schema(
        [
            pa.field("op", pa.string(), False),
            pa.field("db", pa.string(), False),
            pa.field("table", pa.string(), False),
            pa.field("before", img),
            pa.field("after", img),
            pa.field("ts", pa.int64(), False),
            pa.field("pkey", pa.string(), False),
        ]
    )


def _malformed(raw: str) -> dict:
    # poison-record quarantine: one corrupt record must not kill the task
    # (and with it the whole long-running stream) — surface it as an
    # inspectable Malformed row, same policy as the multimodal decoder's
    # bad-bytes rows
    return {
        "op": "Malformed",
        "db": "",
        "table": "",
        "before": None,
        "after": {"raw": raw[:1024]},
        "ts": 0,
        "pkey": "",
    }


def _json_rec(line: str, permissive: bool) -> dict:
    try:
        c = json.loads(line)
        return {
            "op": c["op"],
            "db": c["db"],
            "table": c["table"],
            "before": c.get("before"),
            "after": c.get("after"),
            "ts": int(c.get("ts", 0)),
            "pkey": c.get("pkey", "id"),
        }
    except (ValueError, KeyError, TypeError, AttributeError):
        if not permissive:
            raise
        return _malformed(line.strip())


def _iter_raw(path: str, permissive: bool):
    """One Change dict per record: JSON-lines feed, or decoded binary
    binlog events for `.binlog` files (streaming/binlog.py — the wire
    format of the reference's source)."""
    if path.endswith(".binlog"):
        from cdc_rs_spark.streaming.binlog import parse_binlog_file

        it = parse_binlog_file(path)
        while True:
            try:
                rec = next(it)
            except StopIteration:
                return
            except Exception as e:  # noqa: BLE001 — corrupt tail of a file
                if not permissive:
                    raise
                yield _malformed(f"binlog decode error: {e}")
                return
            yield rec
        return
    with open(path) as f:
        for line in f:
            if line.strip():
                yield _json_rec(line, permissive)


def _records_in_range(sl: FileSlice, permissive: bool):
    """Records [start, end) of one file. For JSON feeds the already-consumed
    prefix is skipped by CHEAP line counting — never parsed — so a tail file
    growing across many micro-batches costs O(file) per batch in line scans,
    not O(file) in json.loads (and a corrupt line before the slice cannot
    fail a batch that doesn't read it). Binlog events must be walked to be
    counted, so the binary path filters the decoded stream."""
    if sl.path.endswith(".binlog"):
        for i, rec in enumerate(_iter_raw(sl.path, permissive)):
            if i < sl.start:
                continue
            if sl.end is not None and i >= sl.end:
                return
            yield rec
        return
    with open(sl.path) as f:
        i = 0
        for line in f:
            if not line.strip():
                continue
            if i >= sl.start and (sl.end is None or i < sl.end):
                yield _json_rec(line, permissive)
            i += 1
            if sl.end is not None and i >= sl.end:
                return


def _read_slice(sl: FileSlice, permissive: bool = False):
    """Yield Arrow RecordBatches (NOT per-row tuples): the DataSource read
    contract accepts either, and the RecordBatch form skips per-row Python
    object pickling — records cross into the JVM as columnar Arrow buffers,
    the same fast path Pandas UDFs use. Batches of ARROW_BATCH_ROWS bound
    worker memory."""
    import pyarrow as pa

    schema = _arrow_schema()

    def img(m):
        # wire images are loosely typed JSON; the envelope contract is
        # map<string,string> (decode happens downstream, envelope.py) —
        # stringify like the reference's row_to_map (src/main.rs:442-507)
        if m is None:
            return None
        return {str(k): (None if v is None else str(v)) for k, v in m.items()}

    buf: list[dict] = []
    for rec in _records_in_range(sl, permissive):
        rec = dict(rec)
        rec["before"] = img(rec["before"])
        rec["after"] = img(rec["after"])
        buf.append(rec)
        if len(buf) >= ARROW_BATCH_ROWS:
            yield pa.RecordBatch.from_pylist(buf, schema=schema)
            buf = []
    if buf:
        yield pa.RecordBatch.from_pylist(buf, schema=schema)


class ChangeFeedStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.permissive = options.get("mode", "failfast").lower() == "permissive"
        # Admission control (the --backfill-batch-size analog,
        # src/main.rs:35-44): without a cap, a consumer facing a month of
        # backlog plans ONE micro-batch over the whole backlog — unbounded
        # batch state, no commit until everything lands, and a mid-batch
        # failure reprocesses it all. With the cap, latestOffset advances
        # at most N records past this reader's progress anchor per batch,
        # so catch-up proceeds in bounded, individually-committed steps.
        # The anchor comes from initialOffset (fresh stream), partitions()
        # (every planned batch's start — authoritative engine progress) and
        # commit(). The Python DataSource API has no read-limit hook and
        # calls latestOffset BEFORE initialOffset, so the cap's guarantee
        # is STEADY-STATE continuous operation: a batch planned before the
        # engine has revealed any position (pre-existing backlog at first
        # start, or the first batch after a clean restart) is deliberately
        # uncapped — returning anything below the unseen committed offset
        # could regress the checkpoint, which is strictly worse than one
        # large batch. Trigger.AvailableNow snapshots a single end offset
        # by design and is unaffected.
        self.max_records = int(options.get("maxRecordsPerBatch", 0)) or None
        # Offset-prefix GC (VERDICT r3 task 8): offsets are FILE NAMES, not
        # positional indices into the listing, so removing fully-committed
        # files neither shifts later offsets nor corrupts a restart — the
        # offset JSON stays O(1) and the directory O(open files) for a
        # month-long stream. gcCommitted=true makes commit() delete the
        # committed prefix itself (tests / self-managed spools); the default
        # leaves retention to the log's owner, exactly like a MySQL server
        # owns binlog purging (the reference's PURGE BINARY LOGS analog).
        self.gc_committed = (
            options.get("gcCommitted", "false").lower() == "true"
        )
        # SORTED-NAME ARRIVAL CONTRACT (ADVICE r4): offsets are file NAMES,
        # so a file must never appear with a name sorting BELOW the
        # committed offset's file — it would be silently skipped by
        # partitions() (and deleted by gcCommitted) forever. Real binlogs
        # honor this (bin.NNNNNN is monotone); a self-managed spool that
        # violates it loses data. The reader tracks every name it has ever
        # listed in this process and flags late arrivals below the planned
        # start: loudly logged by default, fatal with
        # failOnOutOfOrderFiles=true. (Across a driver restart the set is
        # empty, so pre-existing committed-prefix files are — correctly —
        # not flagged; only files appearing out of order while the reader
        # is live are detectable.)
        self.fail_out_of_order = (
            options.get("failOnOutOfOrderFiles", "false").lower() == "true"
        )
        self._listed_names: set[str] = set()
        self._anchor: dict | None = None
        # path -> ((st_size, st_mtime_ns), record count); see _count
        self._counts: dict[str, tuple[tuple[int, int], int]] = {}

    @staticmethod
    def _tup(o: dict) -> tuple:
        return (o["file"], o["pos"])

    def _norm(self, off: dict) -> dict:
        """Accept a pre-round-4 {"file_idx", "pos"} offset from an old
        checkpoint and rewrite it against the current listing."""
        if "file" in off:
            return off
        files = _list_files(self.path)
        idx = min(off.get("file_idx", 0), len(files) - 1)
        name = os.path.basename(files[idx]) if files else ""
        return {"file": name, "pos": off["pos"]}

    def _advance_anchor(self, off: dict) -> None:
        if self._anchor is None or self._tup(off) > self._tup(self._anchor):
            self._anchor = dict(off)

    def initialOffset(self) -> dict:
        off = {"file": "", "pos": 0}
        self._advance_anchor(off)
        return off

    def _flag_late_arrivals(self, listing: list[str], floor_name: str) -> None:
        """Detect sorted-name-contract violations: a file sorting below
        ``floor_name`` that was NOT in any earlier listing appeared after
        that progress point and will never be read. Runs from BOTH
        latestOffset (the engine polls it even when no batch is planned —
        round-5 review: a caught-up stream never calls partitions(), so a
        late file arriving while idle was undetectable) and partitions().
        The first listing seeds the known-name set silently (a restart
        cannot distinguish the committed prefix from late arrivals)."""
        if not floor_name:
            self._listed_names.update(os.path.basename(f) for f in listing)
            return
        late = [
            os.path.basename(fp)
            for fp in listing
            if os.path.basename(fp) < floor_name
            and os.path.basename(fp) not in self._listed_names
            and self._listed_names
        ]
        self._listed_names.update(os.path.basename(f) for f in listing)
        if late:
            msg = (
                "change_feed: file(s) %s sort BELOW the committed offset "
                "file %r and appeared after it was committed — the sorted-"
                "name arrival contract is violated and these files will "
                "never be read" % (late, floor_name)
            )
            if self.fail_out_of_order:
                raise RuntimeError(msg)
            import logging

            logging.getLogger(__name__).error(msg)

    def _count(self, fp: str) -> int:
        """_count_records, memoized on the file's (size, mtime): feed files
        are append-only, so an unchanged size means unchanged records."""
        st = os.stat(fp)
        key = (st.st_size, st.st_mtime_ns)
        hit = self._counts.get(fp)
        if hit is not None and hit[0] == key:
            return hit[1]
        n = _count_records(fp, self.permissive)
        self._counts[fp] = (key, n)
        return n

    def latestOffset(self) -> dict:
        files = _list_files(self.path)
        self._counts = {fp: self._counts[fp] for fp in files if fp in self._counts}
        self._flag_late_arrivals(
            files, self._anchor["file"] if self._anchor else ""
        )
        if not files:
            # never fall below progress the engine already revealed — an
            # empty (fully GC'd) directory means "no new data", not "rewind"
            return dict(self._anchor) if self._anchor else {"file": "", "pos": 0}
        tail_name = os.path.basename(files[-1])
        tail = {"file": tail_name, "pos": self._count(files[-1])}
        if self.max_records is None or self._anchor is None:
            return tail
        budget = self.max_records
        aname, apos = self._anchor["file"], self._anchor["pos"]
        for fp in files:
            name = os.path.basename(fp)
            if name < aname:
                continue  # fully consumed (committed prefix, maybe pre-GC)
            pos = apos if name == aname else 0
            avail = (tail["pos"] if name == tail_name else self._count(fp)) - pos
            if avail > budget:
                return {"file": name, "pos": pos + budget}
            budget -= avail
            if name == tail_name:
                break
        return tail

    def partitions(self, start: dict, end: dict):
        # anchor on the planned END, not start: the engine does not
        # reliably invoke the Python commit() hook between triggers, and
        # re-proposing an end we already planned stalls the stream (the
        # engine sees latest == committed and never triggers again). If
        # the batch fails, the engine replays the same (start, end) from
        # its WAL regardless of this in-memory mark.
        start, end = self._norm(start), self._norm(end)
        self._advance_anchor(end)
        # GC fires HERE, not only in commit(): `start` is the engine's
        # committed progress from the WAL (a batch is only planned past
        # offsets whose predecessors committed), and the engine invokes
        # partitions() reliably where the Python commit() hook is
        # best-effort. Files strictly before start's file are fully
        # consumed by committed batches.
        listing = _list_files(self.path)
        self._flag_late_arrivals(listing, start["file"])
        if self.gc_committed and start["file"]:
            self._gc_before(start["file"])
        out: list[FileSlice] = []
        for fp in listing:
            name = os.path.basename(fp)
            if name < start["file"] or name > end["file"]:
                continue
            lo = start["pos"] if name == start["file"] else 0
            hi = end["pos"] if name == end["file"] else None
            if hi is not None and lo >= hi:
                continue
            out.append(FileSlice(path=fp, start=lo, end=hi))
        return out

    def read(self, partition: FileSlice):
        return _read_slice(partition, self.permissive)

    def commit(self, end: dict) -> None:
        # offsets live in Spark's checkpoint WAL; nothing to persist here —
        # this is where the reference UPSERTs (server_id, pos, filename)
        # into SQLite (src/main.rs:242-254). The in-memory mark anchors the
        # NEXT batch's admission budget; on restart the engine re-seeds
        # progress through partitions(start, end). With gcCommitted, files
        # STRICTLY BEFORE the committed offset's file are fully consumed
        # and are removed — the committed prefix never accumulates.
        end = self._norm(end)
        self._advance_anchor(end)
        if self.gc_committed and end["file"]:
            self._gc_before(end["file"])

    def _gc_before(self, name: str) -> None:
        for fp in _list_files(self.path):
            if os.path.basename(fp) < name:
                try:
                    os.remove(fp)
                except OSError:
                    pass  # concurrent cleanup loses the race harmlessly
                self._counts.pop(fp, None)


class ChangeFeedBatchReader(DataSourceReader):
    """Batch form of the same feed (`spark.read.format("change_feed")`):
    one InputPartition per frozen file — the backfill-style full read."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.permissive = options.get("mode", "failfast").lower() == "permissive"

    def partitions(self):
        return [FileSlice(path=f, start=0, end=None) for f in _list_files(self.path)]

    def read(self, partition: FileSlice):
        return _read_slice(partition, self.permissive)


class ChangeFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "change_feed"

    def schema(self):
        return CHANGE_SCHEMA

    def streamReader(self, schema):
        return ChangeFeedStreamReader(self.options)

    def reader(self, schema):
        return ChangeFeedBatchReader(self.options)


def register_change_feed(spark) -> None:
    """Idempotent registration; after this,
    `spark.readStream.format("change_feed").option("path", dir).load()`."""
    spark.dataSource.register(ChangeFeedDataSource)
