"""The store substrate (streaming/store.py) without Spark: ledger lines
never advance each other or move down, sidecar writes are durable, and a
file carried into a new sibling falls back to a copy where hardlinks are
refused."""

from __future__ import annotations

import errno
import os
import stat

import pytest

from cdc_rs_spark.streaming.store import (
    carry_forward,
    ledger_commit,
    ledger_done,
    publish,
    read_sidecar,
    write_sidecar,
)


def test_ledger_lines_are_independent_and_never_lower():
    meta = {}
    assert not ledger_done(meta, "s", 0)
    assert not ledger_done(meta, "s", None)
    ledger_commit(meta, "s", 5)
    ledger_commit(meta, "s!rm", 2)
    ledger_commit(meta, "s!ra", 9)
    assert meta["last_batch_by_stream"] == {"s": 5, "s!rm": 2, "s!ra": 9}
    # the main, remove and readmit lines gate only their own batches
    assert ledger_done(meta, "s", 5) and not ledger_done(meta, "s", 6)
    assert ledger_done(meta, "s!rm", 2) and not ledger_done(meta, "s!rm", 3)
    assert not ledger_done(meta, "s!ra", 10)
    # a replayed or older commit never lowers its line
    ledger_commit(meta, "s", 3)
    ledger_commit(meta, "s!ra", 1)
    ledger_commit(meta, "s!rm", None)
    assert meta["last_batch_by_stream"] == {"s": 5, "s!rm": 2, "s!ra": 9}


def test_write_sidecar_fsyncs_the_file_and_its_directory(tmp_path, monkeypatch):
    synced = []
    real = os.fsync

    def counting_fsync(fd):
        synced.append(stat.S_IFMT(os.fstat(fd).st_mode))
        real(fd)

    monkeypatch.setattr(os, "fsync", counting_fsync)
    write_sidecar(str(tmp_path), "_meta.json", {"epoch": 3})
    assert sorted(synced) == sorted([stat.S_IFREG, stat.S_IFDIR])
    assert read_sidecar(str(tmp_path), "_meta.json") == {"epoch": 3}
    assert os.listdir(tmp_path) == ["_meta.json"]


@pytest.mark.parametrize("code", [errno.EXDEV, errno.EPERM, errno.ENOTSUP])
def test_carry_forward_copies_when_hardlinks_are_refused(
    tmp_path, monkeypatch, code
):
    src, dst = tmp_path / "a.parquet", tmp_path / "b.parquet"
    src.write_bytes(b"rows")

    def refuse(a, b, **kw):
        raise OSError(code, os.strerror(code))

    monkeypatch.setattr(os, "link", refuse)
    carry_forward(str(src), str(dst))
    assert dst.read_bytes() == b"rows"
    assert dst.stat().st_ino != src.stat().st_ino


def test_carry_forward_propagates_other_errors(tmp_path, monkeypatch):
    src = tmp_path / "a.parquet"
    src.write_bytes(b"rows")

    def fail(a, b, **kw):
        raise OSError(errno.EIO, os.strerror(errno.EIO))

    monkeypatch.setattr(os, "link", fail)
    with pytest.raises(OSError):
        carry_forward(str(src), str(tmp_path / "b.parquet"))
    assert not (tmp_path / "b.parquet").exists()


def test_publish_rereads_and_commits_in_one_write(tmp_path):
    root = str(tmp_path)
    # a line another fold committed since the caller's read survives
    write_sidecar(
        root, "_m.json", {"n_folds": 1, "last_batch_by_stream": {"r!rm": 4}}
    )
    out = publish(
        root, "_m.json", key="s", batch_id=7, bump=("n_folds",), epoch=2
    )
    assert out == read_sidecar(root, "_m.json") == {
        "n_folds": 2,
        "epoch": 2,
        "last_batch_by_stream": {"r!rm": 4, "s": 7},
    }
