"""Seeded input generators for the benchmark: a JSON change feed, the same
kind of feed in the binary binlog v4 format, a document corpus with exact
and near duplicates, and TPC-H-like fixture tables.

Every generator is a pure function of its seed and sizes. The program under
test only ever sees the files these write; the benchmark keeps the returned
expectations to check the program's outputs.
"""

from __future__ import annotations

import json
import os
import random
import struct
from dataclasses import dataclass

DB = "shop"
TABLES = ("orders", "items")
COLUMNS = ("id", "rev", "name", "amount", "note")


@dataclass(frozen=True)
class Change:
    op: str        # Insert / Update / Delete
    table: str
    before: dict | None
    after: dict | None
    ts: int


def _row(rng: random.Random, key: int, rev: int) -> dict:
    return {
        "id": key,
        "rev": rev,
        "name": f"n{rng.randrange(10**6)}",
        "amount": rng.randrange(10**7) / 100.0,
        "note": None if rng.random() < 0.2 else f"note {rng.randrange(1000)}",
    }


def changes(seed: int, n: int) -> list[Change]:
    """n changes over the two tables. Each row's life is Insert, then
    Updates, then maybe a Delete; `rev` counts the row's versions, so
    (table, id, rev, change type) names each change uniquely."""
    rng = random.Random(seed)
    live: dict[str, dict[int, dict]] = {t: {} for t in TABLES}
    keys: dict[str, list[int]] = {t: [] for t in TABLES}
    next_key = {t: 0 for t in TABLES}
    out: list[Change] = []
    for k in range(n):
        table = TABLES[rng.random() < 0.4]
        rows, ks = live[table], keys[table]
        r = rng.random()
        if not ks or r < 0.45:
            key = next_key[table]
            next_key[table] += 1
            after = _row(rng, key, 0)
            rows[key] = after
            ks.append(key)
            out.append(Change("Insert", table, None, after, 1000 + k))
            continue
        i = rng.randrange(len(ks))
        key = ks[i]
        before = rows[key]
        if r < 0.8:
            after = _row(rng, key, before["rev"] + 1)
            rows[key] = after
            out.append(Change("Update", table, before, after, 1000 + k))
        else:
            ks[i] = ks[-1]
            ks.pop()
            del rows[key]
            out.append(Change("Delete", table, before, None, 1000 + k))
    return out


def split(items: list, parts: int) -> list[list]:
    per = -(-len(items) // parts)
    return [items[i:i + per] for i in range(0, len(items), per)]


def write_json_file(path: str, chunk: list[Change]) -> None:
    with open(path, "w") as f:
        for c in chunk:
            f.write(json.dumps({
                "op": c.op, "db": DB, "table": c.table, "before": c.before,
                "after": c.after, "ts": c.ts, "pkey": "id",
            }) + "\n")


# ---- binlog v4 -------------------------------------------------------------

_T_LONGLONG, _T_VARCHAR, _T_DOUBLE = 8, 15, 5
_TABLE_IDS = {t: 70 + i for i, t in enumerate(TABLES)}


def _event(ts: int, etype: int, body: bytes) -> bytes:
    return struct.pack("<IBIIIH", ts, etype, 1, 19 + len(body), 0, 0) + body


def _fde() -> bytes:
    body = struct.pack("<H", 4) + b"8.0".ljust(50, b"\x00") + struct.pack("<I", 0)
    return _event(1, 0x0F, body + bytes([19]) + bytes(39) + bytes([0]))


def _table_map(table: str) -> bytes:
    body = _TABLE_IDS[table].to_bytes(6, "little") + b"\x01\x00"
    body += bytes([len(DB)]) + DB.encode() + b"\x00"
    body += bytes([len(table)]) + table.encode() + b"\x00"
    types = [_T_LONGLONG, _T_LONGLONG, _T_VARCHAR, _T_DOUBLE, _T_VARCHAR]
    body += bytes([len(types)]) + bytes(types)
    meta = struct.pack("<H", 64) + bytes([8]) + struct.pack("<H", 64)
    body += bytes([len(meta)]) + meta + bytes([0b10000])  # note nullable
    names = b"".join(bytes([len(c)]) + c.encode() for c in COLUMNS)
    return _event(1, 0x13, body + bytes([4, len(names)]) + names)


def _image(row: dict) -> bytes:
    null = 1 << 4 if row["note"] is None else 0
    out = bytes([null]) + struct.pack("<qq", row["id"], row["rev"])
    name = row["name"].encode()
    out += bytes([len(name)]) + name + struct.pack("<d", row["amount"])
    if row["note"] is not None:
        note = row["note"].encode()
        out += bytes([len(note)]) + note
    return out


def _rows_event(c: Change) -> bytes:
    etype = {"Insert": 0x1E, "Update": 0x1F, "Delete": 0x20}[c.op]
    body = _TABLE_IDS[c.table].to_bytes(6, "little") + b"\x01\x00"
    body += struct.pack("<H", 2) + bytes([len(COLUMNS)]) + bytes([0b11111])
    if c.op == "Update":
        body += bytes([0b11111])
        body += _image(c.before) + _image(c.after)
    else:
        body += _image(c.after if c.op == "Insert" else c.before)
    return _event(c.ts, etype, body)


def write_binlog_file(path: str, chunk: list[Change]) -> None:
    parts = [b"\xfebin", _fde()] + [_table_map(t) for t in TABLES]
    parts += [_rows_event(c) for c in chunk]
    with open(path, "wb") as f:
        f.write(b"".join(parts))


# ---- document corpus -------------------------------------------------------

@dataclass(frozen=True)
class Doc:
    doc_id: int
    text: str
    is_a: bool


def documents(seed: int, n: int, dup: float = 0.1, near: float = 0.15) -> list[Doc]:
    """n documents of 24-40 words: a `dup` share are exact copies of an
    earlier text, a `near` share are an earlier text with one or two words
    replaced (word-3-gram Jaccard >= 0.7), the rest draw their words from a
    50k vocabulary and share almost nothing. Which document copies which,
    and where words are replaced, depends on n alone; the words themselves
    and the labels come from the seed. Seeds then change the data but not
    the shape of the duplicate graph, which decides how much work a fold
    does."""
    shape, rng = random.Random(n), random.Random(seed)
    out: list[Doc] = []
    for i in range(n):
        r = shape.random()
        if out and r < dup:
            text = out[shape.randrange(len(out))].text
        elif out and r < dup + near:
            words = out[shape.randrange(len(out))].text.split(" ")
            for _ in range(shape.randint(1, 2)):
                words[shape.randrange(len(words))] = f"x{rng.randrange(10**6)}"
            text = " ".join(words)
        else:
            text = " ".join(
                f"w{rng.randrange(50_000)}" for _ in range(shape.randint(24, 40))
            )
        out.append(Doc(seed * 1_000_000 + i, text, rng.random() < 0.5))
    return out


# ---- TPC-H-like fixtures ---------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def write_fixtures(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """The seven tables the cdc and relational query families read, with
    the column types and value domains of the repository's sf fixtures.
    `scale` 1.0 is 1.5M orders; returns the row count per table."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_line = 4 * n_ord
    day0 = dt.datetime(1995, 1, 1)

    def money(lo, hi):
        return round(rng.uniform(lo, hi), 2)

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(
                [rng.randrange(25) for _ in range(n_cust)], pa.int32()),
            "c_acctbal": [money(-999.99, 9999.99) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n_cust)],
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(
                [rng.randrange(25) for _ in range(n_supp)], pa.int32()),
            "s_acctbal": [money(-999.99, 9999.99) for _ in range(n_supp)],
        },
        "part": {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}"
                       for _ in range(n_part)],
            "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
            "p_type": [rng.choice(_PTYPES) for _ in range(n_part)],
            "p_size": pa.array(
                [rng.randint(1, 50) for _ in range(n_part)], pa.int32()),
            "p_retailprice": [900.0 + (i % 1000) / 10.0 for i in range(n_part)],
        },
        "orders": {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(
                [rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
            "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
            "o_totalprice": [money(1000, 500_000) for _ in range(n_ord)],
            "o_orderdate": pa.array(
                [day0 + dt.timedelta(days=rng.randrange(2400))
                 for _ in range(n_ord)], pa.timestamp("us")),
            "o_orderpriority": [rng.choice(_PRIORITIES) for _ in range(n_ord)],
        },
        "lineitem": {
            "l_orderkey": pa.array(
                [rng.randrange(n_ord) for _ in range(n_line)], pa.int64()),
            "l_partkey": pa.array(
                [rng.randrange(n_part) for _ in range(n_line)], pa.int64()),
            "l_suppkey": pa.array(
                [rng.randrange(n_supp) for _ in range(n_line)], pa.int64()),
            "l_linenumber": pa.array(
                [rng.randint(1, 7) for _ in range(n_line)], pa.int32()),
            "l_quantity": [float(rng.randint(1, 50)) for _ in range(n_line)],
            "l_extendedprice": [money(900, 105_000) for _ in range(n_line)],
            "l_discount": [rng.randint(0, 10) / 100 for _ in range(n_line)],
            "l_tax": [rng.randint(0, 8) / 100 for _ in range(n_line)],
            "l_returnflag": [rng.choice("ANR") for _ in range(n_line)],
            "l_linestatus": [rng.choice("FO") for _ in range(n_line)],
            "l_shipdate": pa.array(
                [day0 + dt.timedelta(days=1 + rng.randrange(2500))
                 for _ in range(n_line)], pa.timestamp("us")),
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
