"""SparkSession factory with scale-oriented defaults.

Tested on local[32]; the config choices are the ones that matter on a real
cluster too: AQE on (runtime coalesce + skew-join handling), Arrow enabled for
any Pandas-UDF path, UTC session timezone so temporal stringification is
deterministic across JVMs, and a broadcast threshold large enough that the
TPC-H-ish dimension tables (region/nation/customer/supplier/part) always
broadcast instead of shuffling the fact side.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical RAM, capped at 24g, so the default heap fits the
    host alongside the Python workers."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(ram_mb // 2, 24 * 1024)}m"


def get_spark(app_name: str = "cdc-rs-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # a TIMESTAMP(NANOS) parquet column, which Spark has no type for,
        # reads as long nanos instead of failing the read: a backfill
        # (sources/backfill.py) reads any user table, e.g. one pandas wrote
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        # catalog tables (bucketed-join support) live outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/cdc_rs_spark_warehouse"),
        )
        # UI off for test/bench runs; tools/scale_probe.py turns it on to
        # read per-stage shuffle metrics over the REST API
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # eviction-free app status store ONLY when the measurement tooling
        # asks for it (SPARK_GRAFT_UI=true — micro_bench/profile_fold diff
        # job counts over REST and need no eviction holes). Unconditional
        # 200k retention grew driver memory in every long-running session
        # for zero user benefit (VERDICT r12 #4 / ADVICE r12).
        .config(
            "spark.ui.retainedJobs",
            "200000"
            if os.environ.get("SPARK_GRAFT_UI", "false") == "true"
            else "1000",
        )
        .config(
            "spark.ui.retainedStages",
            "200000"
            if os.environ.get("SPARK_GRAFT_UI", "false") == "true"
            else "1000",
        )
        .getOrCreate()
    )


def spread(df, min_partitions: int | None = None):
    """Widen a narrow scan before a CPU-bound per-row pipeline.

    A single small parquet file (one row group) plans as ONE task no matter
    how many cores exist — byte-range splitting cannot cut inside a row
    group — so per-row-expensive operators (minhash signatures, shingling,
    Arrow-batched Python transforms) would run on one core. When the scan's
    partition count is below the cluster's parallelism, a round-robin
    repartition (cheap: the raw rows are small; the derived work is what's
    expensive) unlocks every core. On a real multi-file input the condition
    is false and this is a no-op — no gratuitous shuffle at scale."""
    if df.isStreaming:
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# The fixture tables' schemas, as Spark infers them from the files. A read
# with a declared schema runs no Spark job; an inferring read runs one per
# call. Timestamps are stored as TIMESTAMP(MICROS, isAdjustedToUTC=false),
# hence timestamp_ntz.
FIXTURE_SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, "
    "s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate timestamp_ntz",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, "
    "n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def load(spark: SparkSession, sf_dir: str, name: str):
    """Read one fixture table. Column pruning + predicate pushdown reach the
    parquet scan because this stays a plain declarative read.

    The table reads with its declared schema from FIXTURE_SCHEMAS, so the
    read runs no Spark job; a column the file lacks reads as NULL. Only the
    fixture tables load here: a backfill, which may name any relation,
    reads its table with spark.read.parquet and keeps the file's columns."""
    return spark.read.schema(FIXTURE_SCHEMAS[name]).parquet(
        table_path(sf_dir, name)
    )


def sql_literal(v) -> str:
    """Render a Python value as a Spark SQL literal (the shared cell
    renderer for VALUES relations — also used by operators/quantiles.py's
    bracket table). Floats via repr round-trip bit-exactly."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return f"{v}L"
    if isinstance(v, float):
        # repr of non-finite floats ('inf', 'nan') is not SQL — render the
        # explicit casts both engines accept (ADVICE r3)
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if v == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        return f"{v!r}D"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(sql_literal(x) for x in v) + ")"
    raise TypeError(f"sql_literal: unsupported cell type {type(v)}")


def _split_top_level(schema: str) -> list[str]:
    """Split a DDL column list on commas that are not nested inside
    (), <> — so decimal(18,2) and map<string,int> survive."""
    parts, depth, cur = [], 0, []
    for ch in schema:
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        parts.append("".join(cur))
    return parts


def jvm_literal_df(spark: SparkSession, rows, schema: str):
    """Build a small literal DataFrame as a pure-JVM VALUES relation.

    ``spark.createDataFrame`` backs even a 3-row literal table with a
    Python RDD (``Scan ExistingRDD`` → applySchemaToPythonRDD), so the
    first job that touches it — typically a broadcast build — pays a
    Python-worker spin-up (measured ~5.5 s cold vs ~0.2 s for a VALUES
    relation, see operators/quantiles.py). This helper renders the rows as
    SQL literals instead: the result is a LocalRelation, broadcast builds
    evaluate driver-side, and no Python worker is ever scheduled.

    ``schema`` is DDL-ish: ``"name type, name type"`` (commas inside
    ``decimal(18,2)`` / ``map<string,int>`` are handled); every cell is CAST
    to its declared type, so int→int vs bigint and array<double>→
    array<float> land exactly as declared. Supported cell types: None,
    bool, int, float, str, and (nested) lists thereof. Float literals
    render via repr — the shortest round-tripping form — so values are
    bit-identical to the Python doubles passed in. Empty ``rows`` raises
    (VALUES cannot express an empty relation; use createDataFrame)."""
    rows = list(rows)
    if not rows:
        raise ValueError("jvm_literal_df: rows must be non-empty")
    cols = []
    for part in _split_top_level(schema):
        name, typ = part.strip().split(None, 1)
        cols.append((name, typ))

    vals = ", ".join(
        "(" + ", ".join(sql_literal(v) for v in row) + ")" for row in rows
    )
    sel = ", ".join(
        f"CAST(col{i + 1} AS {t}) AS {n}" for i, (n, t) in enumerate(cols)
    )
    return spark.sql(f"SELECT {sel} FROM VALUES {vals}")
