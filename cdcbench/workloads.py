"""The workloads. Each one generates its inputs from the seed, warms its
path before the timer starts, runs a fixed amount of work in the timed
section, and checks the program's outputs after the timer stops.

A workload's `run` returns the timed section's length, the latencies of its
unit operations and the Spark jobs launched, and sets `attempted` and
`failed`. Its spans are the calls it made into the program; `layers.py`
turns them into per-layer numbers. `StoreFold` is not a workload but the
store probe a traced run makes, checked like one.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid
from collections.abc import Callable

import checks
import gen


class Spool:
    """The feed's publish client: one file per publish(topic, values) call,
    written by the executor that makes the call, read back after the timer
    stops. A file appears under its final name only once it is whole."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def __call__(self, topic: str, values: list[str]) -> None:
        name = os.path.join(self.path, uuid.uuid4().hex)
        with open(name + ".tmp", "w") as f:
            json.dump([topic, values], f)
        os.rename(name + ".tmp", name + ".json")

    def read(self) -> list[tuple[str, str]]:
        out = []
        for n in sorted(os.listdir(self.path)):
            if n.endswith(".json"):
                with open(os.path.join(self.path, n)) as f:
                    topic, values = json.load(f)
                out.extend((topic, v) for v in values)
        return out

    def calls(self) -> int:
        return sum(n.endswith(".json") for n in os.listdir(self.path))


def progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else dict(p)
            for p in q.recentProgress]


def _warm_page_cache(paths: list[str]) -> None:
    for p in paths:
        with open(p, "rb") as f:
            while f.read(1 << 20):
                pass


class Workload:
    name = ""
    attempted = 0   # operations the timed section attempted
    failed = 0      # of those, the ones that raised

    def __init__(self, ctx):
        self.ctx = ctx
        self.work = ctx.work
        self.seed = ctx.seed
        self.seconds = ctx.seconds

    def generate(self) -> None: ...

    def setup(self) -> None: ...

    def run(self) -> tuple[float, list[float], int]: ...

    def check(self) -> list[str]: ...

    def close(self) -> None: ...


# ---- change feed -------------------------------------------------------------

class FeedBacklog(Workload):
    """A change feed whose files, after the first two, land at once as a
    backlog, drained with maxRecordsPerBatch admission. Files alternate
    between JSON lines (even numbers) and binlog v4 (odd numbers), so both
    decoders sit in the timed section; the first two files, one of each,
    are read in one untimed micro-batch. Operation: one micro-batch. The
    backlog holds one file of 3500 changes per second asked, and each
    micro-batch admits one file. The pipeline is the full
    change_feed one (regex gate, BigQuery envelope, topic routing,
    executor-side publish) publishing to a spool."""

    name = "feed_backlog"
    per_file = 3_500   # changes per file, and the batch cap
    warm_files = 2
    max_records: int | None = None

    def generate(self) -> None:
        files = max(2, self.seconds) + self.warm_files  # one timed file per second asked
        self.max_records = self.per_file
        self.expected = gen.changes(self.seed, self.per_file * files)
        chunks = gen.split(self.expected, files)
        first, full = os.path.join(self.work, "first"), os.path.join(self.work, "full")
        os.makedirs(first)
        os.makedirs(full)
        self.paths = []
        for i, chunk in enumerate(chunks):
            if i % 2:
                p = os.path.join(full, f"feed.{i:06d}.binlog")
                gen.write_binlog_file(p, chunk)
            else:
                p = os.path.join(full, f"feed.{i:06d}.json")
                gen.write_json_file(p, chunk)
            self.paths.append(p)
        for p in self.paths[:self.warm_files]:
            os.link(p, os.path.join(first, os.path.basename(p)))
        # the source path is a link swapped in one rename, so the backlog
        # appears to the source all at once and the batch split repeats
        self.src = os.path.join(self.work, "src")
        os.symlink("first", self.src)

    def setup(self) -> None:
        _warm_page_cache(self.paths)
        self.start(self.src)

    def run(self):
        tr = self.ctx.tracer
        j0 = tr.next_job_id()
        t0 = time.perf_counter()
        tmp = self.src + ".next"
        os.symlink("full", tmp)
        os.rename(tmp, self.src)
        with tr.span("pipeline.drain"):
            self.q.processAllAvailable()
        wall = time.perf_counter() - t0
        jobs = tr.next_job_id() - j0
        ops = [float(p["durationMs"]["triggerExecution"]) for p in self.batches()]
        self.attempted = len(ops)
        return wall, ops, jobs


    def start(self, src: str) -> None:
        from cdc_rs_spark.pipeline import PipelineConfig, run_pipeline

        spark, tr = self.ctx.spark, self.ctx.tracer
        self.spool = Spool(os.path.join(self.work, "spool"))
        cfg = PipelineConfig(
            source_path=src,
            checkpoint_dir=os.path.join(self.work, "ckpt"),
            publish=self.spool,
            source_format="change_feed",
            max_records_per_batch=self.max_records,
        )
        with tr.span("pipeline.start"):
            self.q = run_pipeline(spark, cfg)
        with tr.span("pipeline.drain"):
            self.q.processAllAvailable()
        self.warm_batches = len(progress(self.q))

    def batches(self) -> list[dict]:
        """Progress of the timed micro-batches that read rows."""
        return [p for p in progress(self.q)[self.warm_batches:]
                if int(p.get("numInputRows") or 0) > 0]

    def check(self) -> list[str]:
        return checks.check_feed(self.expected, self.spool.read())

    def close(self) -> None:
        q = getattr(self, "q", None)
        if q is not None:
            q.stop()

# ---- store folds -------------------------------------------------------------

class StoreFold:
    """Not a benchmark workload: the store probe of a traced run. Document
    micro-batches folded into the cluster store and the NB count store,
    each followed by a live read of both, then a retraction batch of about
    1% of the folded documents; the stores are checked afterwards like a
    workload's outputs."""

    batch = 100
    folds = 2
    threshold = 0.5

    def __init__(self, ctx):
        self.ctx, self.work = ctx, ctx.work
        self.docs = gen.documents(ctx.seed, self.batch * self.folds)
        self.removed: set[int] = set()
        self.folded: list[gen.Doc] = []
        self.pairs = 0

    def _frame(self, docs: list[gen.Doc]):
        spark = self.ctx.spark
        return spark.createDataFrame(
            [(d.doc_id, d.text, d.is_a) for d in docs],
            "doc_id bigint, text string, is_a boolean",
        ).localCheckpoint(eager=True)

    @staticmethod
    def _tokens(df):
        from pyspark.sql import functions as F

        return df.select(
            "is_a", F.explode(F.split(F.lower("text"), " ")).alias("token")
        ).filter(F.col("token") != "")

    def run(self) -> None:
        from cdc_rs_spark.streaming.classifier import init_count_store
        from cdc_rs_spark.streaming.clusters import (
            clusters_foreach_batch,
            init_cluster_store,
        )

        spark = self.ctx.spark
        w = self.work
        self.croot, self.nb = os.path.join(w, "clusters"), os.path.join(w, "nb")
        self.sig, self.sh = os.path.join(w, "sig"), os.path.join(w, "sh")
        init_cluster_store(spark, self.croot, threshold=self.threshold)
        init_count_store(spark, self.nb)

        def stats(s: dict, _batch_id: int) -> None:
            self.pairs += int(s.get("n_pairs") or 0)

        self.fold_fn = clusters_foreach_batch(
            self.sig, self.sh, self.croot, threshold=self.threshold, on_stats=stats
        )
        for b in range(self.folds):
            self._fold(b)
        self._retract()

    def _read(self) -> None:
        from cdc_rs_spark.streaming.classifier import read_counts
        from cdc_rs_spark.streaming.clusters import live_cluster_map

        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("clusters.live_read"):
            live_cluster_map(spark, self.croot).count()
        with tr.span("additive.read"):
            read_counts(spark, self.nb).count()

    def _fold(self, b: int) -> None:
        from cdc_rs_spark.streaming.classifier import fold_counts

        tr = self.ctx.tracer
        docs = self.docs[b * self.batch:(b + 1) * self.batch]
        df = self._frame(docs)
        with tr.span("clusters.fold"):
            self.fold_fn(df.select("doc_id", "text"), b)
        with tr.span("additive.fold"):
            fold_counts(self._tokens(df), self.nb, batch_id=b)
        self._read()
        self.folded.extend(docs)

    def _retract(self) -> None:
        import random

        from cdc_rs_spark.streaming.classifier import retract_counts
        from cdc_rs_spark.streaming.clusters import remove_docs

        spark, tr = self.ctx.spark, self.ctx.tracer
        # which positions are retracted depends on the sizes alone, like
        # the corpus shape, so every seed retracts the same shape
        rng = random.Random(self.folds)
        gone = rng.sample(self.folded, max(1, len(self.folded) // 100))
        self.removed.update(d.doc_id for d in gone)
        df = self._frame(gone)
        bid = 10_000 + self.folds
        with tr.span("clusters.remove"):
            remove_docs(spark, self.croot, df.select("doc_id"),
                        sig_store_path=self.sig, shingle_store_path=self.sh,
                        threshold=self.threshold, batch_id=bid, stream_id="r")
        with tr.span("additive.retract"):
            retract_counts(self._tokens(df), self.nb, batch_id=bid, stream_id="r")
        self._read()

    def check(self) -> list[str]:
        from cdc_rs_spark.streaming.classifier import read_counts
        from cdc_rs_spark.streaming.clusters import live_cluster_map

        spark = self.ctx.spark
        alive = [d for d in self.folded if d.doc_id not in self.removed]
        store = {r["token"]: (r["c_a"], r["c_b"])
                 for r in read_counts(spark, self.nb).collect()}
        live = {r["doc_id"]: r["cluster"]
                for r in live_cluster_map(spark, self.croot).collect()}
        return (checks.check_counts(alive, store)
                + checks.check_clusters(alive, self.removed, live, self.threshold))


# ---- batch queries -------------------------------------------------------------

QUERY_MODULES = ("cdc_rs_spark.plans.cdc", "cdc_rs_spark.plans.relational")


def registered_queries() -> dict:
    """The queries the cdc and relational plan modules register, in
    registration order."""
    import importlib

    from cdc_rs_spark.registry import REGISTRY

    for m in QUERY_MODULES:
        importlib.import_module(m)
    return {n: q for n, q in REGISTRY.items()
            if q.fn.__module__ in QUERY_MODULES}


class BatchQueries(Workload):
    """A fixed set of registered cdc/relational queries (every sixth in
    registration order) over generated fixtures, run in passes, each query
    once a pass: two untimed passes, then one timed pass per six seconds
    asked, at least three. Operation:
    one pass, a refresh of the whole set; each query in it is plan
    construction plus collecting its rows. `attempted` and `failed` count
    query executions: one that raises counts as failed and is left out of
    the check."""

    name = "batch_queries"
    scale = 0.01
    step = 6
    warm_passes = 2

    def generate(self) -> None:
        self.fx = os.path.join(self.work, "fixtures")
        gen.write_fixtures(self.fx, self.seed, self.scale)
        self.passes = max(3, self.seconds // 6)

    def setup(self) -> None:
        self.timed = list(registered_queries().values())[::self.step]
        # a pass takes about half as long again as a warm one, and the
        # passes keep getting faster for a few more, as the JVM compiles
        for _ in range(self.warm_passes):
            for q in self.timed:
                q.fn(self.ctx.spark, self.fx).collect()

    def run(self):
        spark, tr = self.ctx.spark, self.ctx.tracer
        ops, self.results = [], []
        j0 = tr.next_job_id()
        t0 = time.perf_counter()
        for _ in range(self.passes):
            t = time.perf_counter()
            for q in self.timed:
                try:
                    with tr.span("plans.query", query=q.name):
                        with tr.span("plans.build"):
                            df = q.fn(spark, self.fx)
                        with tr.span("plans.exec"):
                            rows = df.collect()
                except Exception as e:  # noqa: BLE001 - a failed query is counted
                    self.failed += 1
                    print(f"cdcbench: query {q.name} failed: {e!r}"[:400], file=sys.stderr)
                    continue
                self.results.append((q, df.columns, [tuple(r) for r in rows]))
            ops.append((time.perf_counter() - t) * 1000.0)
        wall = time.perf_counter() - t0
        self.attempted = self.passes * len(self.timed)
        return wall, ops, tr.next_job_id() - j0

    def check(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.fx}/{t}.parquet')")
            oracle, errors = {}, []
            for q, cols, rows in self.results:
                if q.name not in oracle:
                    res = con.sql(q.oracle)
                    oracle[q.name] = (res.columns, res.fetchall())
                errors += checks.check_query(q.name, cols, rows, *oracle[q.name])
            return errors
        finally:
            con.close()


WORKLOADS: dict[str, Callable] = {
    w.name: w for w in (FeedBacklog, BatchQueries)
}
