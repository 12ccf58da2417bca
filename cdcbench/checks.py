"""Output checks, computed apart from the program.

Each check returns a list of error strings; an empty list means the output
is correct. `self_test()` feeds every check a correct output and a
corrupted one, so a check that cannot fail is caught in seconds and without
Spark: `python3 cdcbench/run.py --self-test`.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

from gen import DB, Change, Doc

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools.oracle_check import row_multiset  # noqa: E402


# ---- change feed -------------------------------------------------------------

def _change_key(table: str, img: dict, ctype: str) -> tuple:
    return (table, int(img["id"]), int(img["rev"]), ctype)


def _same_fields(got: dict, want: dict) -> bool:
    """Compare one published row image with the generated row as typed
    values, so the program's string rendering of a number is not frozen."""
    def num(v):
        return None if v is None else float(v)

    return (
        int(got.get("id")) == want["id"]
        and int(got.get("rev")) == want["rev"]
        and got.get("name") == want["name"]
        and num(got.get("amount")) == want["amount"]
        and got.get("note") == want["note"]
    )


def check_feed(expected: list[Change], published: list[tuple[str, str]]) -> list[str]:
    """Every generated change is published exactly once, on topic
    cdc.<db>.<table>, as the BigQuery-CDC envelope: the row image (the
    before-image iff Delete, else the after-image), _CHANGE_TYPE and
    tenant = db."""
    want: dict[tuple, dict] = {}
    want_topics: Counter = Counter()
    for c in expected:
        ctype = "DELETE" if c.op == "Delete" else "UPSERT"
        img = c.before if c.op == "Delete" else c.after
        want[_change_key(c.table, img, ctype)] = img
        want_topics[f"cdc.{DB}.{c.table}"] += 1
    errors: list[str] = []
    seen: Counter = Counter()
    got_topics: Counter = Counter()
    for topic, value in published:
        got_topics[topic] += 1
        prefix = f"cdc.{DB}."
        if not topic.startswith(prefix):
            errors.append(f"unexpected topic {topic!r}: {value[:120]}")
            continue
        v = json.loads(value)
        ctype = v.pop("_CHANGE_TYPE", None)
        if v.pop("tenant", None) != DB:
            errors.append(f"tenant is not {DB!r}: {value[:120]}")
        try:
            key = _change_key(topic[len(prefix):], v, ctype)
        except (KeyError, TypeError, ValueError):
            errors.append(f"unparseable row image: {value[:120]}")
            continue
        seen[key] += 1
        if key not in want:
            errors.append(f"published change not generated: {key}")
        elif not _same_fields(v, want[key]):
            errors.append(f"fields differ for {key}: {value[:160]}")
    dups = [k for k, n in seen.items() if n > 1]
    missing = [k for k in want if k not in seen]
    if dups:
        errors.append(f"{len(dups)} changes published more than once, e.g. {dups[0]}")
    if missing:
        errors.append(f"{len(missing)} changes never published, e.g. {missing[0]}")
    if got_topics != want_topics:
        errors.append(f"per-topic counts {dict(got_topics)} != {dict(want_topics)}")
    return errors


# ---- store folds -------------------------------------------------------------

def tokens(text: str) -> list[str]:
    return [t for t in text.lower().split(" ") if t]


def expected_counts(docs: list[Doc]) -> dict[str, tuple[int, int]]:
    a: Counter = Counter()
    b: Counter = Counter()
    for d in docs:
        (a if d.is_a else b).update(tokens(d.text))
    return {t: (a[t], b[t]) for t in a.keys() | b.keys()}


def check_counts(docs: list[Doc], store: dict[str, tuple[int, int]]) -> list[str]:
    """The NB count store equals a Counter over the surviving documents."""
    want = expected_counts(docs)
    if store == want:
        return []
    diff = [t for t in want.keys() | store.keys() if want.get(t) != store.get(t)]
    t = sorted(diff)[0]
    return [f"{len(diff)} token counts differ, e.g. {t!r}: "
            f"store {store.get(t)} != expected {want.get(t)}"]


def shingles(text: str) -> frozenset[str]:
    w = text.split(" ")
    return frozenset(" ".join(w[i:i + 3]) for i in range(len(w) - 2))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return round(inter / (len(a) + len(b) - inter), 6)


def check_clusters(
    docs: list[Doc], removed: set[int], live: dict[int, int], threshold: float
) -> list[str]:
    """Every cluster is connected by pairs whose exact Jaccard is at least
    the threshold; identical texts share a cluster; retracted documents
    are absent from the live map. The live map leaves out documents never
    seen in a pair, so a document missing from it is its own singleton."""
    errors: list[str] = []
    text = {d.doc_id: d.text for d in docs}
    gone = sorted(removed & live.keys())
    if gone:
        errors.append(f"{len(gone)} retracted docs still in the live map, e.g. {gone[0]}")
    unknown = sorted(live.keys() - text.keys() - removed)
    if unknown:
        errors.append(f"{len(unknown)} docs in the live map were never folded, e.g. {unknown[0]}")
    members: dict[int, list[int]] = {}
    for d, c in live.items():
        if d in text:
            members.setdefault(c, []).append(d)
    for c, ids in members.items():
        sh = {d: shingles(text[d]) for d in ids}
        reached, todo = {ids[0]}, [ids[0]]
        while todo:
            x = todo.pop()
            for y in ids:
                if y not in reached and jaccard(sh[x], sh[y]) >= threshold:
                    reached.add(y)
                    todo.append(y)
        if len(reached) != len(ids):
            errors.append(f"cluster {c} is not connected by pairs with Jaccard >= "
                          f"{threshold}: {sorted(ids)[:6]}")
    by_text: dict[str, list[int]] = {}
    for d in docs:
        by_text.setdefault(d.text, []).append(d.doc_id)
    for ids in by_text.values():
        if len(ids) > 1 and len({live.get(d, ("single", d)) for d in ids}) != 1:
            errors.append(f"identical texts in different clusters: "
                          f"{[(d, live.get(d)) for d in ids[:4]]}")
    return errors


# ---- batch queries -----------------------------------------------------------

def check_query(name: str, cols: list[str], rows: list[tuple],
                oracle_cols: list[str], oracle_rows: list[tuple]) -> list[str]:
    """The result equals its DuckDB oracle as a row multiset."""
    if sorted(cols) != sorted(oracle_cols):
        return [f"{name}: columns {sorted(cols)} != oracle {sorted(oracle_cols)}"]
    got, want = row_multiset(cols, rows), row_multiset(oracle_cols, oracle_rows)
    if got != want:
        extra, lost = got - want, want - got
        return [f"{name}: {sum(extra.values())} rows not in the oracle, "
                f"{sum(lost.values())} oracle rows missing, e.g. "
                f"{next(iter(extra or lost))!r}"]
    return []


# ---- self-test -----------------------------------------------------------------

def _envelope(c: Change) -> tuple[str, str]:
    img = c.before if c.op == "Delete" else c.after
    v = {k: None if x is None else str(x) for k, x in img.items()}
    v.update(_CHANGE_TYPE="DELETE" if c.op == "Delete" else "UPSERT", tenant=DB)
    return f"cdc.{DB}.{c.table}", json.dumps(v)


def self_test() -> list[str]:
    """Returns the names of the checks that failed to tell a correct output
    from a corrupted one; empty when every check works."""
    import gen

    broken: list[str] = []

    def expect(name: str, ok_errors: list[str], bad_errors: list[str]) -> None:
        if ok_errors or not bad_errors:
            broken.append(f"{name}: correct output gave {ok_errors[:1]}, "
                          f"corrupted output gave {bad_errors[:1]}")

    ch = gen.changes(7, 300)
    pub = [_envelope(c) for c in ch]
    expect("feed/dropped", check_feed(ch, pub), check_feed(ch, pub[1:]))
    expect("feed/duplicated", check_feed(ch, pub), check_feed(ch, pub + pub[-1:]))
    t, v = pub[0]
    wrong = json.loads(v)
    wrong["amount"] = str(float(wrong["amount"]) + 1)
    expect("feed/field", check_feed(ch, pub), check_feed(ch, [(t, json.dumps(wrong))] + pub[1:]))
    dl = next(i for i, c in enumerate(ch) if c.op == "Delete")
    wrong_img = list(pub)
    wrong_img[dl] = _envelope(Change("Update", ch[dl].table, None, ch[dl].before, 0))
    expect("feed/delete-image", check_feed(ch, pub), check_feed(ch, wrong_img))

    docs = gen.documents(7, 400)
    store = expected_counts(docs)
    tok = sorted(store)[0]
    off = dict(store)
    off[tok] = (store[tok][0] + 1, store[tok][1])
    expect("counts/off-by-one", check_counts(docs, store), check_counts(docs, off))

    # a correct live map: connected components over exact-Jaccard pairs
    sh = {d.doc_id: shingles(d.text) for d in docs}
    parent = {d.doc_id: d.doc_id for d in docs}

    def root(x):
        while parent[x] != x:
            x = parent[x]
        return x

    ids = sorted(parent)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if jaccard(sh[a], sh[b]) >= 0.5:
                parent[max(root(a), root(b))] = min(root(a), root(b))
    comp = Counter(root(d) for d in ids)
    live = {d: root(d) for d in ids if comp[root(d)] > 1}
    expect("clusters/retracted", check_clusters(docs, set(), live, 0.5),
           check_clusters(docs, {next(iter(live))}, live, 0.5))
    merged = dict(live)
    loner = next(d for d in ids if d not in live)
    merged[loner] = next(iter(live.values()))
    expect("clusters/false-merge", check_clusters(docs, set(), live, 0.5),
           check_clusters(docs, set(), merged, 0.5))
    text_of = {d.doc_id: d.text for d in docs}
    twin = next(d for d in live if sum(text_of[d] == t for t in text_of.values()) > 1)
    split_map = dict(live)
    split_map[twin] = -1
    expect("clusters/identical-split", check_clusters(docs, set(), live, 0.5),
           check_clusters(docs, set(), split_map, 0.5))
    group = {d for d in live if live[d] == live[twin]}
    expect("clusters/group-lost", check_clusters(docs, set(), live, 0.5),
           check_clusters(docs, set(), {d: c for d, c in live.items() if d not in group}, 0.5))
    expect("clusters/map-empty", check_clusters(docs, set(), live, 0.5),
           check_clusters(docs, set(), {}, 0.5))

    cols, rows = ["k", "v"], [(1, 2.5), (2, None), (2, None)]
    expect("query/row-changed", check_query("q", cols, rows, cols, rows),
           check_query("q", cols, [(1, 2.5), (2, None), (2, 0.0)], cols, rows))
    expect("query/row-dropped", check_query("q", cols, rows, cols, rows),
           check_query("q", cols, rows[:2], cols, rows))
    return broken
