"""Generate documents/embeddings fixtures at arbitrary scale for the
linear-vs-quadratic scaling validation (VERDICT r3 task 7).

The driver's fixtures stop at sf0.1 (5k docs / 2k vectors); proving that
the banded-join dedup/ANN queries grow LINEARLY needs a 10x corpus from the
SAME generator at both scales, so the measured ratio isolates scale (a
generator change between points would confound candidate rates). The shape
mirrors the driver's tables (TESTDATA.md): word-salad text over the same
31-token vocabulary, same language mix, exact-dup and near-dup plants at
fixed RATES (so dup density is scale-invariant), and unit-norm 64-dim
label-clustered float vectors.

Usage: python tools/gen_scale_fixtures.py <n_docs> <n_vecs> <out_dir>

Each table is written with the column layout that
`cdc_rs_spark.session.FIXTURE_SCHEMAS` declares for it.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_rs_spark.session import FIXTURE_SCHEMAS  # noqa: E402

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EXACT_DUP_RATE = 0.0016  # 8 per 5k, like the driver fixture
NEAR_DUP_RATE = 0.01
EMB_DIM = 64
N_LABELS = 10


BOILERPLATE = (
    "subscribe to our newsletter for the latest updates and offers "
    "terms of service apply all rights reserved contact us today"
)

NEAR_TEMPLATE_LEN = 100  # words per family template
NEAR_TEMPLATE_SIZE = 400  # DISTINCT mutants per family


def near_template_family(
    rng: np.random.Generator, family_id: int, size: int = NEAR_TEMPLATE_SIZE
) -> list[str]:
    """One family of `size` DISTINCT texts that are single-word mutations
    of a 100-word template (round 12, VERDICT r11 next #2): pairwise
    Jaccard ~0.9, so ~size * 0.78 of them share each band's key — a
    distinct-text bucket population past the 256 cap that the exact-text
    collapse canNOT defuse (nothing is byte-identical). This is the
    corpus class that exercises the hot-bucket guard's SECOND layer (the
    PPJoin reroute); the byte-identical BOILERPLATE plant only ever
    exercises the first (collapse). Family templates are rng-drawn, so
    families never collide with each other."""
    template = [str(w) for w in rng.choice(VOCAB, size=NEAR_TEMPLATE_LEN)]
    out = []
    for m in range(size):
        words = list(template)
        pos = m % NEAR_TEMPLATE_LEN
        # cycle replacements so every mutant is distinct from the
        # template and from each other (position, replacement) pairs
        repl = f"m{family_id}x{m}"
        words[pos] = repl
        out.append(" ".join(words))
    return out


def gen_documents(
    n: int,
    rng: np.random.Generator,
    boilerplate_rate: float = 0.0,
    near_template_families: int = 0,
) -> pa.Table:
    """`boilerplate_rate` > 0 plants that fraction of docs as BYTE-
    IDENTICAL copies of one template — the web-corpus skew that makes an
    unguarded LSH band join quadratic (round 11: the hot-bucket probe
    fixture; rate-fixed so skew density is scale-invariant and the
    linear-vs-quadratic comparison stays meaningful).
    `near_template_families` > 0 appends that many over-cap DISTINCT
    near-dup families (near_template_family) — family count scales with
    the corpus while family SIZE stays fixed, so the routed PPJoin path's
    work and true-pair output both grow linearly (round 12)."""
    texts: list[str] = []
    for i in range(n):
        if boilerplate_rate and rng.random() < boilerplate_rate:
            texts.append(BOILERPLATE)
            continue
        n_words = int(rng.integers(8, 106))
        words = rng.choice(VOCAB, size=n_words)
        texts.append(" ".join(words))
    # plant dups against earlier docs (rate-fixed => density scale-free)
    for i in range(n):
        if texts[i] is BOILERPLATE:
            continue
        u = rng.random()
        if i > 10 and u < EXACT_DUP_RATE:
            texts[i] = texts[int(rng.integers(0, i))]
        elif i > 10 and u < EXACT_DUP_RATE + NEAR_DUP_RATE:
            base = texts[int(rng.integers(0, i))].split(" ")
            j = int(rng.integers(0, len(base)))
            base[j] = str(rng.choice(VOCAB))
            texts[i] = " ".join(base)
    for fam in range(near_template_families):
        texts.extend(near_template_family(rng, fam))
    n = len(texts)
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    sources = [f"src{int(s)}" for s in rng.integers(0, 20, size=n)]
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([str(x) for x in langs]),
            "source": pa.array(sources),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def gen_embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    # clusters loose enough that BACKGROUND pairs stay under the 0.3
    # verify threshold (mean cos ~ 1/(1+2*sigma^2) ~ 0.18); near-dup PAIRS
    # are planted at a fixed rate so true-pair density is scale-invariant —
    # the property that makes a linear-vs-quadratic comparison meaningful
    centers = rng.normal(size=(N_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, size=n)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    for i in range(10, n):
        if rng.random() < NEAR_DUP_RATE:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(scale=0.05, size=EMB_DIM)
            vecs[i] /= np.linalg.norm(vecs[i])
            labels[i] = labels[j]
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array([int(x) for x in labels], pa.int32()),
        }
    )


EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def gen_events(n: int, rng: np.random.Generator) -> pa.Table:
    """Driver-shaped events: 30 days of uniform timestamps, |users| and
    |rows| scaling together (so per-user session counts stay flat — the
    property that keeps session/as-of work linear in rows)."""
    n_users = max(1, n * 1500 // 100_000)
    span_us = 30 * 24 * 3600 * 1_000_000
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, span_us, size=n))
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(base + ts.astype("timedelta64[us]")),
            "user_id": pa.array(
                rng.integers(0, n_users, size=n), pa.int64()
            ),
            "event_type": pa.array(
                [str(t) for t in rng.choice(EVENT_TYPES, size=n)]
            ),
            "value": pa.array(
                np.round(rng.uniform(0, 560, size=n), 2), pa.float64()
            ),
            "props": pa.array(
                [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n)]
            ),
        }
    )


# arrow types of the Spark DDL types FIXTURE_SCHEMAS uses for these tables
_ARROW_TYPES = {
    "int": pa.int32(),
    "bigint": pa.int64(),
    "double": pa.float64(),
    "string": pa.string(),
    "timestamp_ntz": pa.timestamp("us"),
    "array<float>": pa.list_(pa.float32()),
}


def fixture_schema(name: str) -> pa.Schema:
    """The arrow schema of FIXTURE_SCHEMAS[name] (`col type, col type`)."""
    cols = (f.split(" ") for f in FIXTURE_SCHEMAS[name].split(", "))
    return pa.schema([(col, _ARROW_TYPES[typ]) for col, typ in cols])


def write_fixture(table: pa.Table, out: str, name: str) -> None:
    pq.write_table(
        table.cast(fixture_schema(name)), os.path.join(out, f"{name}.parquet")
    )


def main() -> int:
    n_docs, n_vecs, out = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
    n_events = int(sys.argv[4]) if len(sys.argv) > 4 else 0
    boilerplate_rate = float(sys.argv[5]) if len(sys.argv) > 5 else 0.0
    near_template_families = int(sys.argv[6]) if len(sys.argv) > 6 else 0
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(42)
    write_fixture(
        gen_documents(n_docs, rng, boilerplate_rate, near_template_families),
        out, "documents",
    )
    write_fixture(gen_embeddings(n_vecs, rng), out, "embeddings")
    if n_events:
        write_fixture(gen_events(n_events, rng), out, "events")
    print(f"wrote {n_docs} docs / {n_vecs} vecs / {n_events} events to {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
