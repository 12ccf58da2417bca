"""Per-layer numbers for a traced run.

Every layer is measured from outside the program: spans around calls into
its public functions, the scheduler's job counter, Spark's status store and
the streaming query's progress. A workload reaches only some layers; for
the others a traced run makes a small direct probe of that layer, so every
traced run reports every layer. The README lists which numbers come from
the workload and which from a probe.
"""

from __future__ import annotations

import os
import statistics
import time

import gen
import workloads
from tracing import ms

CLUSTER_PHASES = ("append-groups", "append-sh", "append-sig", "compact",
                  "fold", "pin-delegates", "probe-size", "unlabelled")
LAYERS = ("session", "datasource", "binlog", "pipeline", "sinks",
          "clusters", "additive", "plans")


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def instrument_load(tracer) -> None:
    """Wrap `session.load` where the query modules call it, so each fixture
    load is a span. Only the benchmark's process is affected."""
    import importlib

    from cdc_rs_spark import session

    orig = session.load

    def load(spark, sf_dir, name):
        with tracer.span("session.load", table=name):
            return orig(spark, sf_dir, name)

    for m in workloads.QUERY_MODULES:
        mod = importlib.import_module(m)
        if getattr(mod, "load", None) is orig:
            mod.load = load


def _dir_census(*roots: str) -> tuple[int, int]:
    files = size = 0
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class _Probe:
    """A small context for a probe workload: same session and tracer, its
    own directory."""

    def __init__(self, ctx, name: str, seconds: int = 1):
        self.spark, self.tracer, self.seed = ctx.spark, ctx.tracer, ctx.seed
        self.seconds = seconds
        self.work = os.path.join(ctx.work, f"probe-{name}")
        os.makedirs(self.work)


def _feed_metrics(tr, wl) -> dict:
    batches = wl.batches()
    drains = tr.of("pipeline.drain")
    lo, hi = drains[0]["job_lo"], drains[-1]["job_hi"]
    st = tr.job_stats(lo, hi)
    n = max(1, len(batches))
    rows_all = sum(int(p.get("numInputRows") or 0) for p in workloads.progress(wl.q))
    dur = [p["durationMs"] for p in batches]
    return {
        "datasource.rows_read": (sum(int(p["numInputRows"]) for p in batches), "rows"),
        "datasource.read_amplification": (rows_all / max(1, len(wl.expected)), "ratio"),
        "datasource.latest_offset_ms_p50": (_p50([d.get("latestOffset", 0) for d in dur]), "ms"),
        "pipeline.jobs_per_batch": (st["jobs"] / n, "count"),
        "pipeline.add_batch_ms_p50": (_p50([d.get("addBatch", 0) for d in dur]), "ms"),
        "pipeline.query_planning_ms_p50": (_p50([d.get("queryPlanning", 0) for d in dur]), "ms"),
        "pipeline.wal_commit_ms_p50": (_p50([d.get("walCommit", 0) for d in dur]), "ms"),
        "pipeline.task_s_per_batch": (st["task_s"] / n, "s"),
        "pipeline.shuffle_bytes_per_batch": (st["shuffle_bytes"] / n, "bytes"),
    }


def _feed_probe(ctx):
    """Two small JSON files through the pipeline, drained once."""
    p = _Probe(ctx, "feed")
    wl = workloads.FeedBacklog(p)
    wl.expected = gen.changes(ctx.seed, 4_000)
    src = os.path.join(p.work, "src")
    os.makedirs(src)
    for i, chunk in enumerate(gen.split(wl.expected, 2)):
        gen.write_json_file(os.path.join(src, f"feed.{i:06d}.json"), chunk)
    wl.start(src)
    wl.warm_batches = 0
    return wl


def _direct_calls(ctx) -> dict:
    """Decode, parse, transform and publish, each called on its own."""
    from cdc_rs_spark.pipeline import PipelineConfig, apply_transform
    from cdc_rs_spark.sources.sinks import publish_foreach_batch
    from cdc_rs_spark.streaming.binlog import parse_binlog_file
    from cdc_rs_spark.streaming.datasource import (
        ChangeFeedBatchReader,
        FileSlice,
        register_change_feed,
    )

    spark, tr = ctx.spark, ctx.tracer
    d = os.path.join(ctx.work, "probe-direct")
    os.makedirs(d)
    ch = gen.changes(ctx.seed + 1, 20_000)
    jf, bf = os.path.join(d, "feed.000000.json"), os.path.join(ctx.work, "bin.000000.binlog")
    gen.write_json_file(jf, ch)
    gen.write_binlog_file(bf, ch)
    out = {}
    reader = ChangeFeedBatchReader({"path": d})
    with tr.span("datasource.decode") as s:
        n = sum(b.num_rows for b in reader.read(FileSlice(jf, 0, None)))
    out["datasource.json_decode_rows_per_s"] = (n / (s["end"] - s["start"]), "rows/s")
    with tr.span("binlog.parse") as s:
        n = sum(1 for _ in parse_binlog_file(bf))
    out["binlog.parse_rows_per_s"] = (n / (s["end"] - s["start"]), "rows/s")

    register_change_feed(spark)
    raw = spark.read.format("change_feed").option("path", d).load().persist()
    n = raw.count()
    cfg = PipelineConfig(source_path=d, checkpoint_dir=os.path.join(d, "_ck"),
                         source_format="change_feed")
    with tr.span("pipeline.transform") as s:
        apply_transform(raw, cfg).write.format("noop").mode("overwrite").save()
    out["pipeline.transform_rows_per_s"] = (n / (s["end"] - s["start"]), "rows/s")
    frame = apply_transform(raw, cfg).persist()
    frame.count()
    spool = workloads.Spool(os.path.join(d, "_spool"))
    with tr.span("sinks.publish") as s:
        publish_foreach_batch(spool)(frame, 0)
    out["sinks.publish_ms_per_batch"] = ((s["end"] - s["start"]) * 1000.0, "ms")
    out["sinks.publish_jobs_per_batch"] = (s["job_hi"] - s["job_lo"], "count")
    out["sinks.publish_calls_per_batch"] = (spool.calls(), "count")
    frame.unpersist()
    raw.unpersist()
    return out


def _store_probe(ctx):
    """Two folds of 100 documents and one retraction; no workload folds."""
    wl = workloads.StoreFold(_Probe(ctx, "store"))
    wl.run()
    return wl


def _store_metrics(tr, wl) -> dict:
    folds = tr.of("clusters.fold")
    n = max(1, len(folds))
    out = {
        "clusters.fold_ms_p50": (_p50(ms(folds)), "ms"),
        "clusters.jobs_per_fold": (_mean([s["job_hi"] - s["job_lo"] for s in folds]), "count"),
        "clusters.remove_ms_p50": (_p50(ms(tr.of("clusters.remove"))), "ms"),
        "clusters.live_read_ms_p50": (_p50(ms(tr.of("clusters.live_read"))), "ms"),
        "clusters.pairs": (wl.pairs, "count"),
    }
    phase = {p: [0, 0.0] for p in CLUSTER_PHASES}
    for s in folds:
        for j in range(s["job_lo"], s["job_hi"]):
            job = tr.jobs.get(j, {})
            desc = job.get("desc") or ""
            label = desc.split(":", 1)[1] if desc.startswith("cluster_fold:") else "unlabelled"
            phase.setdefault(label, [0, 0.0])
            phase[label][0] += 1
            phase[label][1] += job.get("ms", 0)
    for label, (jobs, total_ms) in phase.items():
        out[f"clusters.phase.{label}.jobs"] = (jobs / n, "count")
        out[f"clusters.phase.{label}.ms"] = (total_ms / n, "ms")
    files, size = _dir_census(wl.croot, wl.sig, wl.sh)
    out["clusters.store_files"] = (files, "count")
    out["clusters.store_bytes"] = (size, "bytes")
    afolds = tr.of("additive.fold")
    out.update({
        "additive.fold_ms_p50": (_p50(ms(afolds)), "ms"),
        "additive.retract_ms_p50": (_p50(ms(tr.of("additive.retract"))), "ms"),
        "additive.read_ms_p50": (_p50(ms(tr.of("additive.read"))), "ms"),
        "additive.jobs_per_fold": (_mean([s["job_hi"] - s["job_lo"] for s in afolds]), "count"),
        "additive.store_files": (_dir_census(wl.nb)[0], "count"),
    })
    return out


def _query_probe(ctx):
    p = _Probe(ctx, "plans")
    wl = workloads.BatchQueries(p)
    wl.scale = 0.001
    wl.generate()
    wl.timed = list(workloads.registered_queries().values())[:2]
    wl.passes = 1
    wl.run()
    return wl


def _plan_metrics(tr) -> dict:
    queries = tr.of("plans.query")
    stats = [tr.job_stats(s["job_lo"], s["job_hi"]) for s in queries]
    loads = tr.of("session.load")
    return {
        "plans.build_ms": (_p50(ms(tr.of("plans.build"))), "ms"),
        "plans.exec_ms": (_p50(ms(tr.of("plans.exec"))), "ms"),
        "plans.jobs_per_query": (_mean([s["jobs"] for s in stats]), "count"),
        "plans.task_s": (_mean([s["task_s"] for s in stats]), "s"),
        "plans.shuffle_bytes": (_mean([s["shuffle_bytes"] for s in stats]), "bytes"),
        "session.load_calls": (len(loads), "count"),
        "session.load_ms": (sum(ms(loads)), "ms"),
    }


def collect(ctx, wl, timed_bookkeeping_s: float, wall_s: float) -> tuple[dict, list[str]]:
    """Every per-layer metric, as {name: (value, unit)}, and what the
    store probe's output checks found wrong."""
    tr = ctx.tracer
    t = time.perf_counter()
    out = {
        "session.start_s": (ctx.start_s, "s"),
        "trace.overhead_s": (timed_bookkeeping_s, "s"),
        "trace.wall_s": (wall_s, "s"),
    }
    feed = wl if isinstance(wl, workloads.FeedBacklog) else _feed_probe(ctx)
    tr.harvest()
    out.update(_feed_metrics(tr, feed))
    if feed is not wl:
        feed.close()
    out.update(_direct_calls(ctx))
    store = _store_probe(ctx)
    tr.harvest()
    out.update(_store_metrics(tr, store))
    errors = store.check()
    if not isinstance(wl, workloads.BatchQueries):
        _query_probe(ctx)
    tr.harvest()
    out.update(_plan_metrics(tr))
    out["session.driver_peak_rss_mb"] = (_jvm_peak_rss_mb(ctx.spark), "MB")
    self_times = tr.self_times()
    for layer in LAYERS:
        out[f"selftime.{layer}_s"] = (self_times.get(layer, 0.0), "s")
    out["trace.probe_s"] = (time.perf_counter() - t, "s")
    return out, errors
