"""Dump NON-VACUOUS formatted plans for the round-13 touched frames.

VERDICT r12 #3: the lifecycle queries execute during construction and
return a collected local relation, so dump_plans.py's per-query dumps were
one-node `Scan ExistingRDD` files — useless for checking exchange-count
claims. This tool captures the plans of the frames that actually execute:

  report plans   DataFrame.collect is wrapped for the duration of one
                 query run; every collected frame whose schema looks like
                 the query's serve report has its formatted plan written
                 to plans/<tag>/<query>_report_<tag2>.txt. This is the
                 REAL serve plan of the REAL query — scan counts per
                 store are countable in the file.
  pin phase      a small group store + live_del is built exactly the way
                 clusters_foreach_batch builds them, and the ldagg
                 aggregate's plan is dumped (exchange count for the
                 countDistinct-vs-collect_set claim).
  fold cur path  the current-root lookup plan of fold_pairs' driver mode:
                 the old distributed form (pruned raw read -> latest-wins
                 groupBy -> closure join -> touched join) vs the round-13
                 raw-union collect (exchange-free scan).

Usage: python tools/dump_serve_plans.py <tag2: before|after> [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans", "r13",
)

REPORT_QUERIES = {
    # query -> column that identifies its serve report frame
    "gdpr_forget_end_to_end": "subject_residue",
    "gdpr_forget_end_to_end_v2": "subject_residue",
    "curation_funnel_incremental": "n_docs",
    "curation_funnel_retraction": "n_docs",
}


def _fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    tag2 = sys.argv[1] if len(sys.argv) > 1 else "after"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    os.makedirs(OUT, exist_ok=True)

    # Spark 4: concrete sessions hand out pyspark.sql.classic.dataframe
    # .DataFrame, which OVERRIDES collect — patching the abstract base
    # (pyspark.sql.DataFrame) never intercepts anything
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # Spark 3.x
        from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from cdc_rs_spark.registry import load_all
    from cdc_rs_spark.session import get_spark

    registry = load_all()
    spark = get_spark("dump-serve-plans")
    spark.sparkContext.setLogLevel("ERROR")

    # ---- 1. the serve-report plans, captured at their real collect ----
    orig_collect = DataFrame.collect
    state = {"query": None, "marker": None, "n": 0}

    def wrapped(self):
        try:
            cols = set(self.columns)
        except Exception:  # noqa: BLE001
            cols = set()
        if state["marker"] in cols:
            state["n"] += 1
            path = os.path.join(
                OUT, f"{state['query']}_report{state['n']}_{tag2}.txt"
            )
            with open(path, "w") as f:
                f.write(_fmt(self))
            print(f"wrote {path}")
        return orig_collect(self)

    DataFrame.collect = wrapped
    try:
        for name, marker in REPORT_QUERIES.items():
            state.update(query=name, marker=marker, n=0)
            registry[name].fn(spark, sf_dir)
    finally:
        DataFrame.collect = orig_collect

    # ---- 2. the cluster fold's pin-phase aggregate ----
    import tempfile

    from cdc_rs_spark.streaming.clusters import (
        _GROUP_SCHEMA,
        _META,
        _raw_union,
        fold_pairs,
        init_cluster_store,
        tombstones,
    )
    from cdc_rs_spark.streaming.store import read_sidecar, resolve_store

    root = tempfile.mkdtemp(prefix="pin_plan_")
    gcur = os.path.join(root, "groups")
    spark.createDataFrame(
        [("g1", 1, True), ("g1", 2, False), ("g2", 3, True)],
        "gkey string, doc_id bigint, delegate boolean",
    ).write.parquet(gcur)
    croot = os.path.join(root, "clusters")
    init_cluster_store(spark, croot, threshold=0.5)
    batch_gkeys = spark.createDataFrame([("g1",), ("g2",)], "gkey string")
    gstore = spark.read.schema(_GROUP_SCHEMA).parquet(resolve_store(gcur))
    live_del = (
        gstore.filter("delegate")
        .join(F.broadcast(batch_gkeys), "gkey")
        .select("gkey", F.col("doc_id").alias("del_id"))
        .join(
            F.broadcast(tombstones(spark, croot)).withColumnRenamed(
                "doc_id", "del_id"
            ),
            "del_id",
            "left_anti",
        )
    )
    forms = {
        "countdistinct": live_del.groupBy("gkey").agg(
            F.countDistinct("del_id").alias("__nd"),
            F.min("del_id").alias("__mind"),
        ),
        "collectset": live_del.groupBy("gkey").agg(
            F.size(F.collect_set("del_id")).cast("bigint").alias("__nd"),
            F.min("del_id").alias("__mind"),
        ),
    }
    for fname, frame in forms.items():
        plan = _fmt(frame)
        n_ex = plan.count("Exchange")
        path = os.path.join(OUT, f"pin_delegates_{fname}.txt")
        with open(path, "w") as f:
            f.write(f"-- Exchange nodes: {n_ex}\n")
            f.write(plan)
        print(f"wrote {path} (Exchange nodes: {n_ex})")

    # ---- 3. fold_pairs' current-root lookup: old vs new shape ----
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a bigint, id_b bigint"
    )
    fold_pairs(spark, croot, pairs, batch_id=0)
    meta = read_sidecar(croot, _META)
    from cdc_rs_spark.streaming.clusters import (
        _apply_closure,
        _closure,
        _py_bucket,
        _raw_rows,
    )

    touched_ids = [1, 2, 3, 9]
    buckets = sorted({_py_bucket(i) for i in touched_ids})
    closure = _closure(meta.get("translations") or [])
    touched = spark.createDataFrame(
        [(i,) for i in touched_ids], "doc_id bigint"
    )
    old_cur = touched.join(
        _apply_closure(
            _raw_rows(spark, croot, meta, buckets, ids=touched_ids),
            closure,
        ),
        "doc_id",
        "left",
    ).select("doc_id", F.coalesce("cluster", "doc_id").alias("cluster"))
    new_raw = _raw_union(spark, croot, meta, buckets, ids=touched_ids)
    for fname, frame in (
        ("fold_cur_lookup_distributed", old_cur),
        ("fold_cur_lookup_rawunion", new_raw),
    ):
        plan = _fmt(frame)
        n_ex = plan.count("Exchange")
        path = os.path.join(OUT, f"{fname}.txt")
        with open(path, "w") as f:
            f.write(f"-- Exchange nodes: {n_ex}\n")
            f.write(plan)
        print(f"wrote {path} (Exchange nodes: {n_ex})")

    import shutil

    shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
