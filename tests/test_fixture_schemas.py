"""The declared fixture schemas in `session.FIXTURE_SCHEMAS` must be the
schemas Spark infers from the files, and a fixture load must run no Spark
job; a backfill still reads its relation's own columns."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cdc_rs_spark.session import FIXTURE_SCHEMAS, load, table_path
from cdc_rs_spark.sources.backfill import BackfillJob, plan_ranges, snapshot_table
from cdc_rs_spark.streaming.store import resolve_store
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIRS = [
    os.path.join(os.path.dirname(SF_DIR), sf)
    for sf in ("sf0.001", "sf0.01", "sf0.1")
]


def _assert_declared_matches_inferred(spark, sf_dir: str, names) -> None:
    for name in names:
        inferred = spark.read.parquet(table_path(sf_dir, name)).schema
        assert load(spark, sf_dir, name).schema == inferred, (sf_dir, name)


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_declared_schemas_match_inference(spark, sf_dir):
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no fixtures at {sf_dir}")
    _assert_declared_matches_inferred(spark, sf_dir, FIXTURE_SCHEMAS)


def test_declared_schemas_match_generated_fixtures(spark, tmp_path):
    """The documents/embeddings/events tables that the scaling generator
    writes, and the seven tables the benchmark generator writes."""
    out = str(tmp_path / "scale")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "gen_scale_fixtures.py"),
         "40", "20", out, "50"],
        check=True, capture_output=True,
    )
    _assert_declared_matches_inferred(
        spark, out, ("documents", "embeddings", "events"))

    sys.path.insert(0, os.path.join(REPO, "cdcbench"))
    try:
        import gen
    finally:
        sys.path.pop(0)
    bench = str(tmp_path / "bench")
    os.makedirs(bench)
    written = gen.write_fixtures(bench, seed=1, scale=0.0001)
    _assert_declared_matches_inferred(spark, bench, written)


def test_fixture_load_runs_no_spark_job(spark, sf_dir):
    sc = spark.sparkContext
    group = "fixture-load-probe"
    sc.setJobGroup(group, "fixture loads")
    try:
        for name in FIXTURE_SCHEMAS:
            load(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_cluster_store_schemas_match_inference(spark, tmp_path):
    """The fold reads its band and shingle stores with declared schemas;
    they must be the schemas of the rows the fold writes there."""
    from cdc_rs_spark.streaming.clusters import (
        _SH_SCHEMA,
        _SIG_SCHEMA,
        clusters_foreach_batch,
        init_cluster_store,
    )

    root, sig, sh = (str(tmp_path / n) for n in ("clusters", "sig", "sh"))
    init_cluster_store(spark, root, threshold=0.5)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "an entirely different sentence about spark streams")],
        "doc_id bigint, text string",
    )
    clusters_foreach_batch(sig, sh, root, threshold=0.5)(docs, 0)
    for path, ddl in ((sig, _SIG_SCHEMA), (sh, _SH_SCHEMA)):
        cur = resolve_store(path)
        declared = spark.read.schema(ddl).parquet(cur).schema
        assert declared == spark.read.parquet(cur).schema, path


def test_backfill_reads_the_relations_own_columns(spark, tmp_path):
    """A backfill over a table named like a fixture but laid out otherwise
    keeps the file's columns: `o_note` is not in the declared `orders`
    schema, and the declared columns the file lacks do not appear. The
    TIMESTAMP(NANOS) column, which pandas-written tables carry, reads as
    long nanos (the session's nanosAsLong setting) instead of failing."""
    sf = str(tmp_path)
    ns = 1_704_067_200_000_000_123
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array([1, 2], pa.int64()),
            "o_note": ["rush", None],
            "o_updated": pa.array([ns, ns + 1], pa.timestamp("ns")),
        }),
        table_path(sf, "orders"),
    )
    job = BackfillJob(db="shop", relation="orders", pkey="o_orderkey")
    rows = snapshot_table(spark, sf, job).collect()
    assert {r["table"] for r in rows} == {"orders"}
    assert sorted(
        (r["after"]["o_orderkey"], r["after"]["o_note"], r["after"]["o_updated"])
        for r in rows
    ) == [("1", "rush", str(ns)), ("2", None, str(ns + 1))]
    assert {k for r in rows for k in r["after"]} == {
        "o_orderkey", "o_note", "o_updated"}
    shards = plan_ranges(spark, sf, "shop", "orders", "o_orderkey", 2)
    assert [j.range for j in shards] == ["1..2", "2..3"]


def test_default_driver_memory_fits_physical_ram(spark):
    """With no SPARK_DRIVER_MEMORY, the session's driver heap is below the
    host's RAM (a fixed 24g default was above it on a 15.7 GB host)."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        pytest.skip("SPARK_DRIVER_MEMORY sets the driver memory")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    assert conf.endswith("m"), conf
    assert 0 < int(conf[:-1]) < ram_mb
