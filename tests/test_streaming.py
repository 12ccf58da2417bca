"""Structured Streaming tests: file CDC source + checkpoint recovery,
stateful live-wins arbitration across micro-batches, watermarked windows.

Deterministic micro-batches via Trigger.AvailableNow + maxFilesPerTrigger
(SURVEY §5(d)).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cdc_rs_spark.streaming.arbitrate import arbitrate_stream
from cdc_rs_spark.streaming.source import read_change_stream
from cdc_rs_spark.streaming.windows import streaming_dedup, tumbling_counts


def _write_changes(path: str, name: str, rows: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _chg(op, key, val, ts, pkey="id"):
    before = {"id": key, "v": "old"} if op in ("Update", "Delete") else None
    after = {"id": key, "v": val} if op != "Delete" else None
    if op == "Backfill":
        before = None
    return {
        "op": op, "db": "testdb", "table": "t", "before": before,
        "after": after, "ts": ts, "pkey": pkey,
    }


def _run_available_now(stream_df, query_name: str, checkpoint: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    return q


def test_file_cdc_stream_end_to_end(spark, tmp_path):
    """Files of JSON changes -> stream -> envelope transform -> memory sink."""
    src = str(tmp_path / "src")
    _write_changes(src, "b1.json", [
        _chg("Insert", "1", "a", 100),
        _chg("Update", "2", "b", 101),
        _chg("Delete", "3", None, 102),
    ])
    from cdc_rs_spark.functions.transforms import bigquery_json, topic_column

    stream = read_change_stream(spark, src)
    assert stream.isStreaming
    out = stream.select(
        F.col("op"),
        topic_column("cdc.${table}").alias("topic"),
        bigquery_json(stream).alias("value"),
    )
    q = (
        out.writeStream.format("memory").queryName("cdc_e2e")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    rows = spark.sql("SELECT * FROM cdc_e2e").collect()
    assert len(rows) == 3
    by_op = {r["op"]: r for r in rows}
    assert by_op["Delete"]["topic"] == "cdc.t"
    payload = json.loads(by_op["Delete"]["value"])
    assert payload["_CHANGE_TYPE"] == "DELETE"
    assert payload["id"] == "3"  # before image for deletes


def test_checkpoint_no_reprocessing(spark, tmp_path):
    """Offset recovery: restart with the same checkpoint must not re-emit
    already-processed files (the analog of the reference's log_pos resume,
    src/main.rs:204-218 — handled entirely by Spark's WAL)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _write_changes(src, "b1.json", [_chg("Insert", "1", "a", 100)])

    def run_once():
        stream = read_change_stream(spark, src)
        q = (
            stream.selectExpr("op", "after['id'] AS id")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    run_once()
    assert spark.read.parquet(out).count() == 1

    _write_changes(src, "b2.json", [_chg("Insert", "2", "b", 200)])
    run_once()
    rows = spark.read.parquet(out).collect()
    # restart processed ONLY the new file: 2 rows total, no duplicates
    assert sorted(r["id"] for r in rows) == ["1", "2"]


def test_streaming_arbitration_backfill_after_live_is_suppressed(spark, tmp_path):
    """The genuinely stateful case: the live change arrives in batch 1, the
    stale backfill row for the same key arrives in batch 2 — state must
    suppress it (batch merge can't; this is why the operator exists)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_changes(src, "b1.json", [
        _chg("Update", "1", "live", 100),
        _chg("Backfill", "2", "snap2", 1),
    ])
    _write_changes(src, "b2.json", [
        _chg("Backfill", "1", "stale", 1),   # late snapshot row, key 1
        _chg("Backfill", "3", "snap3", 1),
    ])
    stream = read_change_stream(spark, src, max_files_per_trigger=1)
    out = arbitrate_stream(stream)
    q = _run_available_now(out, "arb", ckpt)
    rows = spark.sql("SELECT * FROM arb").collect()
    # winner history per key: key1 -> Update only (backfill suppressed);
    # key2, key3 -> their backfill rows
    winners: dict[str, list] = {}
    for r in rows:
        winners.setdefault(r["key"], []).append(r)
    assert [w["op"] for w in winners["1"]] == ["Update"]
    assert json.loads(winners["1"][0]["payload"])["v"] == "live"
    assert [w["op"] for w in winners["2"]] == ["Backfill"]
    assert [w["op"] for w in winners["3"]] == ["Backfill"]


def test_streaming_arbitration_live_supersedes_after_backfill(spark, tmp_path):
    """Reverse order: backfill first, live later -> two emissions for the
    key, final winner is the live change."""
    src = str(tmp_path / "src")
    _write_changes(src, "b1.json", [_chg("Backfill", "1", "snap", 1)])
    _write_changes(src, "b2.json", [_chg("Delete", "1", None, 500)])
    stream = read_change_stream(spark, src, max_files_per_trigger=1)
    out = arbitrate_stream(stream)
    q = _run_available_now(out, "arb2", str(tmp_path / "ckpt"))
    rows = spark.sql("SELECT * FROM arb2 ORDER BY ts").collect()
    key1 = [r for r in rows if r["key"] == "1"]
    assert [r["op"] for r in key1] == ["Backfill", "Delete"]


def test_streaming_dedup_absorbs_replay(spark, tmp_path):
    """At-least-once replay of the same change is delivered exactly once."""
    src = str(tmp_path / "src")
    dup = _chg("Insert", "1", "a", 1_700_000_000)
    _write_changes(src, "b1.json", [dup])
    _write_changes(src, "b2.json", [dup, _chg("Insert", "2", "b", 1_700_000_100)])
    stream = read_change_stream(spark, src, max_files_per_trigger=1)
    out = streaming_dedup(stream)
    q = (
        out.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    rows = spark.sql("SELECT key FROM dedup_stream").collect()
    assert sorted(r["key"] for r in rows) == ["1", "2"]


def test_streaming_tumbling_window_matches_batch(spark, sf_dir, tmp_path):
    """Incrementalized window agg == batch window agg over the same data
    (the Structured Streaming core property)."""
    from cdc_rs_spark.session import load

    events = load(spark, sf_dir, "events").limit(200).cache()
    src = str(tmp_path / "events_json")
    events.select(
        "event_id", F.col("ts").cast("string").alias("ts"), "user_id",
        "event_type", "value", "props",
    ).coalesce(2).write.mode("overwrite").json(src)

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = spark.readStream.schema(schema).json(src)
    out = tumbling_counts(stream, "1 hour", "1 hour")
    q = (
        out.writeStream.format("memory").queryName("win_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {
        (str(r["window_start"]), r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_stream").collect()
    }
    want = {
        (str(r["window_start"]), r["event_type"]): r["n"]
        for r in (
            events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n")
            .collect()
        )
    }
    assert got == want


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with watermarks and a time-range condition
    (SURVEY §2.2 joins row, streaming form of events_range_join_bucketed):
    errors within 10s after a purchase by the same user. Both sides are
    unbounded streams; the watermark + range bound lets Spark expire join
    state."""
    import json as _json
    import os as _os

    src = str(tmp_path / "ss_src")
    _os.makedirs(src, exist_ok=True)
    rows = [
        {"event_id": 1, "user_id": 10, "event_type": "purchase", "ts_s": 100},
        {"event_id": 2, "user_id": 10, "event_type": "error", "ts_s": 105},
        {"event_id": 3, "user_id": 10, "event_type": "error", "ts_s": 130},
        {"event_id": 4, "user_id": 20, "event_type": "purchase", "ts_s": 100},
        {"event_id": 5, "user_id": 30, "event_type": "error", "ts_s": 101},
    ]
    with open(_os.path.join(src, "events.json"), "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    schema = "event_id long, user_id long, event_type string, ts_s long"
    stream = (
        spark.readStream.schema(schema)
        .json(src)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 minute")
    )
    errors = (
        stream.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 minute")
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 10 SECONDS")),
    ).select("purchase_id", "error_id", "p_user")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    out = [(r["purchase_id"], r["error_id"]) for r in spark.sql("SELECT * FROM ss_join").collect()]
    # only error 2 is within 10s of purchase 1 for the same user
    assert out == [(1, 2)]


def test_streaming_topic_fanout_foreach_batch(spark, tmp_path):
    """Full reference pipeline shape, streaming: change feed -> BigQuery
    envelope -> per-row topic -> foreachBatch publish grouped per topic
    (src/main.rs:162-188 driver loop, publish per cached topic client)."""
    from cdc_rs_spark.functions.transforms import bigquery_json, topic_column
    from cdc_rs_spark.sources.sinks import publish_foreach_batch

    src = str(tmp_path / "fan_src")
    _write_changes(src, "b1.json", [
        _chg("Insert", "1", "a", 100),
        _chg("Update", "2", "b", 101),
    ])
    _write_changes(src, "b2.json", [_chg("Delete", "3", None, 102)])

    # publish now runs EXECUTOR-side (no driver collect) — capture calls
    # through the shared local filesystem, not a driver closure
    import uuid

    calls_dir = tmp_path / "fan_calls"
    calls_dir.mkdir()
    d = str(calls_dir)

    def fake_publish(topic: str, values: list[str]) -> None:
        with open(os.path.join(d, f"{uuid.uuid4().hex}.json"), "w") as f:
            json.dump({"topic": topic, "values": values}, f)

    stream = read_change_stream(spark, src)
    routed = stream.select(
        topic_column("prefix.${table}").alias("topic"),
        bigquery_json(stream).alias("value"),
    )
    q = (
        routed.writeStream.foreachBatch(publish_foreach_batch(fake_publish))
        .option("checkpointLocation", str(tmp_path / "fan_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    recs = [json.loads(p.read_text()) for p in calls_dir.iterdir()]
    calls: dict[str, list[str]] = {}
    for r in recs:
        calls.setdefault(r["topic"], []).extend(r["values"])
    assert set(calls) == {"prefix.t"}
    payloads = [json.loads(v) for v in calls["prefix.t"]]
    assert len(payloads) == 3
    by_type = {p["_CHANGE_TYPE"] for p in payloads}
    assert by_type == {"UPSERT", "DELETE"}
    # delete payload carries the BEFORE image (test.rhai:26)
    deleted = [p for p in payloads if p["_CHANGE_TYPE"] == "DELETE"][0]
    assert deleted["id"] == "3" and deleted["tenant"] == "testdb"


def test_streaming_incremental_view_maintenance(spark, tmp_path):
    """IVM in streaming mode: each micro-batch's changes become
    retraction/assertion deltas appended to a delta log; the maintained
    aggregate (sum of deltas) equals the batch-recomputed final state even
    with the update arriving in a later micro-batch than the insert it
    revises (operators/incremental.py in foreachBatch)."""
    from cdc_rs_spark.operators.incremental import change_deltas

    src = str(tmp_path / "src")
    deltas_dir = str(tmp_path / "deltas")
    ckpt = str(tmp_path / "ckpt")

    def envelope(op, before, after, ts):
        return {"op": op, "db": "d", "table": "t", "before": before,
                "after": after, "ts": ts, "pkey": "g"}

    _write_changes(src, "b1.json", [
        envelope("Insert", None, {"g": "a", "v": "10.00"}, 1),
        envelope("Insert", None, {"g": "a", "v": "5.00"}, 2),
        envelope("Insert", None, {"g": "b", "v": "7.00"}, 3),
    ])

    def apply_batch(batch_df, _batch_id):
        change_deltas(
            batch_df,
            group_of=lambda img: img["g"],
            value_of=lambda img: img["v"].cast("decimal(18,2)"),
        ).write.mode("append").parquet(deltas_dir)

    def run():
        q = (
            read_change_stream(spark, src)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    run()
    # second micro-batch: the update migrates a row a->b, the delete retracts
    _write_changes(src, "b2.json", [
        envelope("Update", {"g": "a", "v": "10.00"}, {"g": "b", "v": "10.00"}, 4),
        envelope("Delete", {"g": "b", "v": "7.00"}, None, 5),
    ])
    run()

    maintained = {
        r.grp: (r.n, str(r.total))
        for r in spark.read.parquet(deltas_dir)
        .groupBy("grp")
        .agg(F.sum("dn").alias("n"), F.sum("dv").alias("total"))
        .filter(F.col("n") > 0)
        .collect()
    }
    assert maintained == {"a": (1, "5.00"), "b": (1, "10.00")}


def test_stream_static_dimension_enrichment(spark, sf_dir, tmp_path):
    """Stream-static join — the standard CDC enrichment: each change joins a
    static dimension table on the fly (broadcast; no state, no watermark
    needed on the static side). The dimension is re-read per micro-batch, so
    a slowly-changing dim picks up updates between batches."""
    src = str(tmp_path / "src")
    _write_changes(src, "b1.json", [
        _chg("Insert", "1", "a", 100),
        _chg("Insert", "2", "b", 101),
    ])
    from cdc_rs_spark.session import load

    nation = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("string").alias("id"),
        F.col("n_name").alias("nation_name"),
    )
    stream = read_change_stream(spark, src)
    enriched = stream.select(
        "op", F.col("after")["id"].alias("id"), F.col("after")["v"].alias("v")
    ).join(F.broadcast(nation), "id", "left")
    q = (
        enriched.writeStream.format("memory").queryName("enrich")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    rows = {r["id"]: r["nation_name"] for r in spark.sql("SELECT * FROM enrich").collect()}
    assert len(rows) == 2
    assert all(v is not None for v in rows.values())  # both keys resolved


def test_tws_arbitration_matches_legacy_semantics(spark, tmp_path):
    """transformWithStateInPandas variant (streaming/arbitrate_tws.py) obeys
    the same contract as applyInPandasWithState: late backfill suppressed,
    live supersession emits an update. Skips where the TWS control channel's
    protobuf dependency is missing (this container)."""
    pytest.importorskip("google.protobuf")
    from cdc_rs_spark.streaming.arbitrate_tws import arbitrate_stream_tws

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    src = str(tmp_path / "src")
    _write_changes(src, "b1.json", [
        _chg("Update", "1", "live", 100),
        _chg("Backfill", "2", "snap2", 1),
    ])
    _write_changes(src, "b2.json", [
        _chg("Backfill", "1", "stale", 1),
        _chg("Delete", "2", None, 500),
    ])
    stream = read_change_stream(spark, src, max_files_per_trigger=1)
    out = arbitrate_stream_tws(stream)
    q = _run_available_now(out, "arb_tws", str(tmp_path / "ckpt"))
    rows = spark.sql("SELECT * FROM arb_tws ORDER BY ts").collect()
    winners: dict[str, list] = {}
    for r in rows:
        winners.setdefault(r["key"], []).append(r)
    assert [w["op"] for w in winners["1"]] == ["Update"]  # backfill suppressed
    assert [w["op"] for w in winners["2"]] == ["Backfill", "Delete"]


def test_arbitration_state_ttl_evicts_and_documents_resurrection(spark, tmp_path):
    """State TTL (round-3): a key untouched for ttl_ms of processing time is
    EVICTED — without a TTL, per-key arbitration state is unbounded at CDC
    key cardinality. The observable proof of eviction is the documented
    semantics change: a backfill row arriving after eviction re-opens
    arbitration and IS emitted (the no-TTL path provably suppresses it —
    test_streaming_arbitration_backfill_after_live_is_suppressed), which is
    why callers size ttl_ms beyond the backfill queue's completion horizon."""
    import time

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    emitted: list[tuple[str, str]] = []
    _write_changes(src, "b1.json", [_chg("Update", "1", "live", 100)])

    # ONE continuously-running query with an explicit trigger interval: a
    # ProcessingTimeTimeout query never satisfies availableNow's
    # terminate-when-drained condition (pending timers keep scheduling
    # batches), so the drain-and-restart harness other tests use would leak
    # a running query. The continuous form is also how the timer actually
    # fires in production: an idle-interval batch services the timeout.
    q = (
        arbitrate_stream(read_change_stream(spark, src), ttl_ms=50)
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda bdf, bid: emitted.extend(
                (r["key"], r["op"]) for r in bdf.collect()
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    def _wait_for(pair, secs=120):
        # NOTE: processAllAvailable() can block forever on a timer query
        # (timer batches keep resetting the no-new-data latch) — poll the
        # sink list instead
        deadline = time.time() + secs
        while time.time() < deadline and pair not in emitted:
            time.sleep(0.2)
        assert pair in emitted, (pair, emitted)

    try:
        _wait_for(("1", "Update"))

        # processing-time horizon (50 ms) passes; idle-interval batches
        # fire key 1's timer and evict its state
        time.sleep(2.0)

        # late backfill for the EVICTED key: state is gone, so it re-opens
        # arbitration and is emitted as that key's fresh winner (the no-TTL
        # suppression contract is pinned by
        # test_streaming_arbitration_backfill_after_live_is_suppressed)
        _write_changes(src, "b3.json", [_chg("Backfill", "1", "stale-snap", 1)])
        _wait_for(("1", "Backfill"))
    finally:
        q.stop()
        q.awaitTermination(60)
    assert emitted == [("1", "Update"), ("1", "Backfill")], emitted


def test_tws_arbitration_state_ttl(spark, tmp_path):
    """Native value-state TTL on the transformWithStateInPandas form: same
    eviction-then-resurrection contract as the legacy-API TTL test. Skips
    where the TWS protobuf control channel is missing (this container)."""
    pytest.importorskip("google.protobuf")
    import time

    from cdc_rs_spark.streaming.arbitrate_tws import arbitrate_stream_tws

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    emitted: list[tuple[str, str]] = []
    _write_changes(src, "b1.json", [_chg("Update", "1", "live", 100)])

    q = (
        arbitrate_stream_tws(read_change_stream(spark, src), ttl_ms=50)
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda bdf, bid: emitted.extend(
                (r["key"], r["op"]) for r in bdf.collect()
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    def _wait_for(pair, secs=120):
        deadline = time.time() + secs
        while time.time() < deadline and pair not in emitted:
            time.sleep(0.2)
        assert pair in emitted, (pair, emitted)

    try:
        _wait_for(("1", "Update"))
        time.sleep(2.0)  # TTL horizon passes; value state expires
        _write_changes(src, "b3.json", [_chg("Backfill", "1", "stale-snap", 1)])
        _wait_for(("1", "Backfill"))
    finally:
        q.stop()
        q.awaitTermination(60)
    key1 = [op for k, op in emitted if k == "1"]
    assert key1 == ["Update", "Backfill"], emitted


def test_full_pipeline_assembly_matches_reference_loop(spark, tmp_path):
    """cdc_rs_spark.pipeline: the whole reference main loop in one config —
    source dir -> regex gate -> BigQuery envelope -> topic routing ->
    grouped publish with checkpointed offsets. Restarting on the same
    checkpoint republishes nothing (offset durability, --state parity)."""
    from cdc_rs_spark.pipeline import PipelineConfig, run_pipeline_once

    src = str(tmp_path / "src")
    _write_changes(src, "b1.json", [
        _chg("Insert", "1", "a", 100),
        _chg("Delete", "2", None, 101),
        dict(_chg("Insert", "3", "x", 102), db="otherdb"),  # regex-dropped
    ])
    # executor-side publish: capture calls via the shared local filesystem
    import uuid

    pub_dir = tmp_path / "published"
    pub_dir.mkdir()
    d = str(pub_dir)

    def capture_publish(topic: str, values: list[str]) -> None:
        with open(os.path.join(d, f"{uuid.uuid4().hex}.json"), "w") as f:
            json.dump({"topic": topic, "n": len(values)}, f)

    cfg = PipelineConfig(
        source_path=src,
        checkpoint_dir=str(tmp_path / "state"),
        table_regex=r"^testdb\.t$",
        topic_template="projects/p/topics/all_pims.${table}",
        publish=capture_publish,
    )

    def published() -> list[tuple[str, int]]:
        recs = [json.loads(p.read_text()) for p in pub_dir.iterdir()]
        return [(r["topic"], r["n"]) for r in recs]

    run_pipeline_once(spark, cfg)
    assert published() == [("projects/p/topics/all_pims.t", 2)]
    run_pipeline_once(spark, cfg)  # replay with same state: nothing new
    assert published() == [("projects/p/topics/all_pims.t", 2)]


def test_pipeline_with_rhai_script_matches_builtin_config(spark, tmp_path):
    """--script parity: the same pipeline run with a user Rhai-subset
    script (transform + topic fns) publishes byte-identical envelopes to
    the built-in config, with the topic coming from the script's
    interpolation. The scripted dataflow is compiled to Column expressions
    (functions/rhai.py) — the plan stays pure JVM."""
    from cdc_rs_spark.pipeline import PipelineConfig, build_stream, run_pipeline_once
    from cdc_rs_spark.plans.cdc import RHAI_DEMO_SCRIPT

    src = str(tmp_path / "src")
    _write_changes(src, "b1.json", [
        _chg("Insert", "1", "a", 100),
        _chg("Delete", "2", None, 101),
    ])
    import uuid

    pub_dir = tmp_path / "published"
    pub_dir.mkdir()
    d = str(pub_dir)

    def capture_publish(topic: str, values: list[str]) -> None:
        with open(os.path.join(d, f"{uuid.uuid4().hex}.json"), "w") as f:
            json.dump({"topic": topic, "values": sorted(values)}, f)

    cfg = PipelineConfig(
        source_path=src,
        checkpoint_dir=str(tmp_path / "state"),
        table_regex=r"^testdb\.t$",
        script=RHAI_DEMO_SCRIPT,
        publish=capture_publish,
    )
    run_pipeline_once(spark, cfg)
    recs = [json.loads(p.read_text()) for p in pub_dir.iterdir()]
    assert len(recs) == 1
    assert recs[0]["topic"] == "sink/testdb/changes.t"  # script's topic()
    # envelopes equal the builtin bigquery_json output for the same rows
    builtin = build_stream(
        spark,
        PipelineConfig(
            source_path=src,
            checkpoint_dir=str(tmp_path / "state2"),
            table_regex=r"^testdb\.t$",
        ),
    )
    # compare via a batch read of the same files (streaming frames can't
    # collect) — reuse the scripted/builtin expressions on a static frame
    from cdc_rs_spark.functions.rhai import rhai_transform_json
    from cdc_rs_spark.functions.transforms import bigquery_json
    from cdc_rs_spark.streaming.source import CHANGE_SCHEMA

    static = spark.read.schema(CHANGE_SCHEMA).json(src)
    both = static.select(
        rhai_transform_json(static, RHAI_DEMO_SCRIPT).alias("s"),
        bigquery_json(static).alias("b"),
    )
    assert both.filter(F.col("s") != F.col("b")).count() == 0
    assert sorted(recs[0]["values"]) == sorted(
        r["b"] for r in both.collect()
    )


def test_arbitration_state_survives_restart(spark, tmp_path):
    """State-store durability: the live-wins winner state must survive a full
    query RESTART (new start(), same checkpoint) — the stale backfill row
    arriving after the restart is still suppressed by state recovered from
    the store, not from memory."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    emitted: list[tuple[str, str]] = []

    def run_once():
        # memory sink can't recover from a checkpoint; foreachBatch can
        q = (
            arbitrate_stream(read_change_stream(spark, src))
            .writeStream.outputMode("update")
            .foreachBatch(
                lambda bdf, bid: emitted.extend(
                    (r["key"], r["op"]) for r in bdf.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    _write_changes(src, "b1.json", [_chg("Update", "1", "live", 100)])
    run_once()
    assert emitted == [("1", "Update")]

    # restart: new file with the stale backfill, fresh query object, same ckpt
    _write_changes(src, "b2.json", [
        _chg("Backfill", "1", "stale", 1),
        _chg("Backfill", "2", "snap2", 1),
    ])
    run_once()
    # only key 2's backfill emits; key 1's is suppressed by RECOVERED state
    assert emitted == [("1", "Update"), ("2", "Backfill")]


def test_watermark_drops_too_late_events(spark, tmp_path):
    """Late-data bound: once the watermark passes a window's end (append
    mode finalizes it), a straggler event for that window is DROPPED — the
    finalized count never changes and the dropped row resurfaces nowhere."""
    import json as _json

    src = str(tmp_path / "src")

    def ev(eid, ts):
        return {"event_id": eid, "ts": ts, "user_id": 1,
                "event_type": "click", "value": 1.0, "props": "{}"}

    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")

    sink = str(tmp_path / "sink")

    def run_pass() -> None:
        # parquet sink, not memory: the memory sink cannot RESUME from a
        # checkpoint, and resuming is the point of the two-pass shape
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).json(src)
        out = tumbling_counts(stream, "1 hour", "10 minutes")
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        # a timed-out pass would leave the query live and break pass 2's
        # start on the same checkpoint — fail HERE instead (round-6 review)
        assert q.awaitTermination(240), "availableNow pass did not finish"

    # PASS 1: one event in [00:00, 01:00) and one at 03:00 that pushes the
    # watermark (10 min lag) far past the first window's end. Running this
    # as its own availableNow pass COMMITS the watermark to the checkpoint
    # before the straggler exists — the test no longer depends on
    # maxFilesPerTrigger slicing files into separate micro-batches, which
    # made it flaky under suite load (round-6: one in-suite false failure,
    # green in isolation; r5 saw the same class).
    _write_changes(src, "b1.json", [
        ev(1, "2024-01-01 00:10:00"), ev(2, "2024-01-01 03:00:00"),
    ])
    run_pass()
    # PASS 2 (restart from the checkpoint, watermark restored at 02:50):
    # the straggler for the finalized first window MUST drop; the 06:00
    # event advances the watermark so remaining windows flush
    _write_changes(src, "b2.json", [ev(3, "2024-01-01 00:20:00")])
    _write_changes(src, "b3.json", [ev(4, "2024-01-01 06:00:00")])
    run_pass()
    counts = {
        str(r["window_start"]): r["n"]
        for r in spark.read.parquet(sink).collect()
    }
    # the 00:00 window closed with ONE event; the late event_id=3 is gone
    assert counts.get("2024-01-01 00:00:00") == 1
    assert sum(counts.values()) <= 3  # event 3 contributes to no window


def test_streaming_minhash_dedup_against_store(spark, tmp_path):
    """Incremental corpus dedup (streaming/dedup.py): new docs stream in,
    each micro-batch probes the persisted LSH band store for near-dups vs
    the EXISTING corpus, then appends its own signatures — so batch 2 docs
    are checked against batch 1 docs too, with no corpus self-join ever."""
    from cdc_rs_spark.operators.dedup import band_explode, minhash_docs
    from cdc_rs_spark.streaming.dedup import dedup_foreach_batch

    base = " ".join(f"w{i}" for i in range(20))
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, " ".join(f"x{i}" for i in range(20))),
            (3, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    sig_path = str(tmp_path / "sig_store")
    sh_path = str(tmp_path / "sh_store")
    signed = minhash_docs(corpus, "doc_id", "text")
    band_explode(signed.select("doc_id", "sig")).write.parquet(sig_path)
    signed.select("doc_id", "sh").write.parquet(sh_path)

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    found: dict[int, set[tuple[int, int]]] = {}

    def on_dups(df, batch_id):
        pairs = {(r["id_a"], r["id_b"]) for r in df.collect()}
        if pairs:
            found.setdefault(batch_id, set()).update(pairs)

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        q = (
            stream.writeStream.foreachBatch(
                dedup_foreach_batch(sig_path, sh_path, 0.5, on_dups)
            )
            .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    # batch 1: doc 10 near-dups corpus doc 1; doc 11 is novel
    with open(os.path.join(src, "b1.json"), "w") as f:
        f.write(json.dumps({"doc_id": 10, "text": base + " extra"}) + "\n")
        f.write(json.dumps({"doc_id": 11, "text": "totally different words here now"}) + "\n")
    run_once()
    all_found = set().union(*found.values()) if found else set()
    assert (10, 1) in all_found
    assert not any(a == 11 for a, _ in all_found)

    # batch 2: doc 12 near-dups doc 10 (ingested last batch, not in the
    # original corpus) — proves the store append made batch 1 probe-able
    found.clear()
    with open(os.path.join(src, "b2.json"), "w") as f:
        f.write(json.dumps({"doc_id": 12, "text": base + " extra more"}) + "\n")
    run_once()
    all_found = set().union(*found.values()) if found else set()
    assert (12, 10) in all_found and (12, 1) in all_found


def test_streaming_sliding_and_session_windows_match_batch(spark, sf_dir, tmp_path):
    """The two remaining window types, incrementalized == batch over the same
    data: sliding (overlap expansion) and per-user session windows (the
    data-driven window whose state merges as events arrive)."""
    from cdc_rs_spark.session import load
    from cdc_rs_spark.streaming.windows import session_counts, sliding_counts

    events = load(spark, sf_dir, "events").limit(200).cache()
    src = str(tmp_path / "events_json2")
    events.select(
        "event_id", F.col("ts").cast("string").alias("ts"), "user_id",
        "event_type", "value", "props",
    ).coalesce(2).write.mode("overwrite").json(src)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    stream = spark.readStream.schema(schema).json(src)
    q = (
        sliding_counts(stream, "1 hour", "30 minutes")
        .writeStream.format("memory").queryName("slide_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "slide_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {
        (str(r["window_start"]), r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM slide_stream").collect()
    }
    want = {
        (str(r["w"]["start"]), r["event_type"]): r["n"]
        for r in events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        ).agg(F.count("*").alias("n")).collect()
    }
    assert got == want

    stream2 = spark.readStream.schema(schema).json(src)
    q2 = (
        session_counts(stream2, "30 minutes")
        .writeStream.format("memory").queryName("sess_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(240)
    got_s = {
        (str(r["session_start"]), str(r["session_end"]), r["user_id"]): r["n_events"]
        for r in spark.sql("SELECT * FROM sess_stream").collect()
    }
    want_s = {
        (str(r["w"]["start"]), str(r["w"]["end"]), r["user_id"]): r["n"]
        for r in events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        ).agg(F.count("*").alias("n")).collect()
    }
    assert got_s == want_s


def test_streaming_dedup_keeps_distinct_same_second_updates(spark, tmp_path):
    """ts is epoch seconds, so two GENUINELY DIFFERENT updates to one key in
    the same second are not replays — the payload digest in the dedup key
    must keep both, while a byte-identical redelivery still collapses."""
    src = str(tmp_path / "src")
    ts = 1_700_000_000
    u1 = _chg("Update", "1", "first", ts)
    u2 = _chg("Update", "1", "second", ts)  # same key+ts+op, different payload
    _write_changes(src, "b1.json", [u1, u2])
    _write_changes(src, "b2.json", [u1])  # true replay of u1
    stream = read_change_stream(spark, src, max_files_per_trigger=1)
    out = streaming_dedup(stream)
    q = (
        out.writeStream.format("memory").queryName("dedup_payload")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    rows = spark.sql("SELECT * FROM dedup_payload").collect()
    vals = sorted(r["after"]["v"] for r in rows)
    assert vals == ["first", "second"]  # both distinct updates kept, replay dropped


def test_streaming_chunk_pipeline_to_training_shards(spark, sf_dir, tmp_path):
    """End-to-end streaming training-data pipeline: documents arrive as a
    file stream -> overlapping chunking (the same zero-shuffle generate as
    the batch query) -> foreachBatch writes deterministic training shards.
    Asserts the streamed output equals the batch chunking restricted to the
    same input, and every chunk landed in its md5-assigned shard."""
    from cdc_rs_spark.plans.pipeline import hash_bucket
    from cdc_rs_spark.sources.sinks import write_training_shards

    docs_schema = "doc_id long, text string, lang string, source string, n_chars long"
    src = str(tmp_path / "in")
    out = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    batch_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(50)
    batch_docs.coalesce(1).write.mode("overwrite").parquet(src)

    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    chunks = F.transform(
        F.sequence(F.lit(1), n, F.lit(24)),
        lambda s, i: F.struct(
            i.cast("bigint").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(toks, s, F.lit(32))).alias("chunk_text"),
        ),
    )

    def chunked(df):
        return (
            df.select("doc_id", F.explode(chunks).alias("c"))
            .select(
                F.concat_ws("#", F.col("doc_id"), F.col("c.chunk_idx")).alias("chunk_id"),
                F.col("c.chunk_text"),
            )
        )

    stream = spark.readStream.schema(docs_schema).parquet(src)

    q = (
        chunked(stream)
        .writeStream.foreachBatch(
            lambda bdf, bid: write_training_shards(
                bdf, out, n_shards=4, id_col="chunk_id", mode="append"
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    expect = chunked(batch_docs)
    assert got.count() == expect.count()
    assert (
        got.select("chunk_id", "chunk_text")
        .exceptAll(expect.select("chunk_id", "chunk_text"))
        .count()
        == 0
    )
    # every chunk is in its md5-assigned shard
    misplaced = got.withColumn(
        "want", (hash_bucket(F.col("chunk_id"), 1_000_000) % 4).cast("int")
    ).filter(F.col("shard") != F.col("want"))
    assert misplaced.count() == 0


def test_python_datasource_change_feed_offsets(spark, tmp_path):
    """The custom Python DataSource (binlog-tail analog): reads a rotating
    file feed with Spark-managed (file NAME, pos) offsets — a restart with
    the same checkpoint consumes ONLY records past the committed offset,
    including growth of the tail file AND newly rotated files."""
    from cdc_rs_spark.streaming.datasource import register_change_feed

    register_change_feed(spark)
    src = str(tmp_path / "feed")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_changes(src, "bin.000001", [_chg("Insert", 1, "a", 10), _chg("Insert", 2, "b", 11)])
    _write_changes(src, "bin.000002", [_chg("Update", 1, "c", 12)])

    def run_once():
        q = (
            spark.readStream.format("change_feed")
            .option("path", src)
            .load()
            .writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    got1 = spark.read.parquet(out)
    assert got1.count() == 3
    assert {r["op"] for r in got1.collect()} == {"Insert", "Update"}

    # tail file grows + a rotation appears; restart resumes from the offset
    _write_changes(src, "bin.000002", [_chg("Update", 1, "c", 12), _chg("Delete", 2, None, 13)])
    _write_changes(src, "bin.000003", [_chg("Insert", 3, "d", 14)])
    run_once()
    got2 = spark.read.parquet(out).collect()
    assert len(got2) == 5  # 3 old + exactly the 2 new, no re-reads
    assert sorted(r["ts"] for r in got2) == [10, 11, 12, 13, 14]

    # batch form reads everything
    full = spark.read.format("change_feed").option("path", src).load()
    assert full.count() == 5


def test_change_feed_offset_gc_compacts_committed_prefix(spark, tmp_path):
    """VERDICT r3 task 8: offsets are file NAMES, so the committed prefix
    can be garbage-collected without corrupting later offsets. With
    gcCommitted=true the reader deletes fully-committed files on commit();
    the offset JSON stays O(1) and the directory holds only open files —
    and a subsequent run over the compacted directory neither re-reads nor
    loses records (no rewind even when ALL files are collected)."""
    import json as _json
    import os as _os

    from cdc_rs_spark.streaming.datasource import register_change_feed

    register_change_feed(spark)
    src = str(tmp_path / "feed")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for i in range(1, 5):
        _write_changes(
            src, f"bin.{i:06d}", [_chg("Insert", i * 10 + j, "v", i * 10 + j) for j in range(3)]
        )

    def run_once():
        q = (
            spark.readStream.format("change_feed")
            .option("path", src)
            .option("gcCommitted", "true")
            .load()
            .writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    assert spark.read.parquet(out).count() == 12
    # the committed offset is O(1): one file name + one position
    offset_files = sorted(
        _os.listdir(_os.path.join(ckpt, "offsets")), key=lambda s: s
    )
    last = open(_os.path.join(ckpt, "offsets", offset_files[-1])).read()
    off = _json.loads(last.splitlines()[-1])
    assert set(off) == {"file", "pos"} and off["file"] == "bin.000004"
    # second run: tail growth + a new rotation are the ONLY new records;
    # planning that batch GCs the committed prefix (partitions() receives
    # the WAL-committed start offset — the reliable hook)
    _write_changes(
        src,
        "bin.000004",
        [_chg("Insert", 40 + j, "v", 40 + j) for j in range(3)]
        + [_chg("Insert", 99, "v", 99)],
    )
    _write_changes(src, "bin.000005", [_chg("Insert", 100, "v", 100)])
    run_once()
    got = sorted(r["ts"] for r in spark.read.parquet(out).collect())
    assert got == sorted(
        [i * 10 + j for i in range(1, 5) for j in range(3)] + [99, 100]
    )
    # prefix before the committed start (bin.000004) is gone
    remaining = sorted(_os.listdir(src))
    assert remaining == ["bin.000004", "bin.000005"], remaining
    # third run over the compacted dir: nothing re-read, nothing lost
    _write_changes(src, "bin.000006", [_chg("Insert", 200, "v", 200)])
    run_once()
    got3 = sorted(r["ts"] for r in spark.read.parquet(out).collect())
    assert got3 == got + [200]
    assert "bin.000004" not in _os.listdir(src)  # collected on run 3


def test_change_feed_max_records_per_batch_bounds_catchup(spark, tmp_path):
    """Admission control on the change-feed DataSource: once the reader has
    an engine-revealed progress anchor (steady-state continuous operation),
    maxRecordsPerBatch=3 drains a 10-record burst (spanning a file
    rotation) in >=4 individually-committed micro-batches of <=3 records —
    the --backfill-batch-size analog. No loss, no duplication. (A batch
    planned before any anchor exists — pre-existing backlog at first start
    — is deliberately uncapped; see the reader docstring.)"""
    import os as _os
    import time

    from cdc_rs_spark.streaming.datasource import register_change_feed

    register_change_feed(spark)
    src = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    _os.makedirs(src, exist_ok=True)  # start against an EMPTY feed

    batches: list[list[int]] = []
    q = (
        spark.readStream.format("change_feed")
        .option("path", src)
        .option("maxRecordsPerBatch", "3")
        .load()
        .writeStream.foreachBatch(
            lambda bdf, bid: batches.append(sorted(r["ts"] for r in bdf.collect()))
        )
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        # wait for the FIRST trigger to complete (empty feed -> anchor
        # set) by polling progress, not a fixed sleep: under heavy host
        # load the first micro-batch can take >2 s to fire, and writing
        # the burst before the anchor exists lands it in one deliberately
        # uncapped pre-anchor batch (flaked exactly that way in a loaded
        # full-suite run)
        anchor_deadline = time.time() + 60
        while time.time() < anchor_deadline and not q.recentProgress:
            time.sleep(0.2)
        assert q.recentProgress, "first trigger never completed"
        _write_changes(src, "bin.000001", [_chg("Insert", str(i), "v", 10 + i) for i in range(7)])
        _write_changes(src, "bin.000002", [_chg("Insert", str(i), "v", 10 + i) for i in range(7, 10)])
        deadline = time.time() + 120
        while time.time() < deadline:
            seen = sorted(t for b in batches for t in b)
            if seen == list(range(10, 20)):
                break
            time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination(60)
    non_empty = [b for b in batches if b]
    assert sorted(t for b in non_empty for t in b) == list(range(10, 20)), non_empty
    assert all(len(b) <= 3 for b in non_empty), non_empty
    assert len(non_empty) >= 4, non_empty


def test_change_feed_crash_recovery_exactly_once(spark, tmp_path):
    """Failure injection on the reference's core durability story
    (src/main.rs:204-255: resume from the committed (filename, log_pos)):
    crash the consumer at the WORST point — after the sink wrote a batch
    but before the engine committed its offset — by deleting the
    checkpoint's last commit marker. While the stream is down the feed
    keeps moving (tail file grows AND a rotation appears). On restart,
    Structured Streaming replays the uncommitted batch with the SAME batch
    id and offset range; exactly_once_parquet_batch's dynamic
    batch_id-partition overwrite absorbs the replay, so the final table
    has every record exactly once — no loss across the crash, no
    duplication from the replay."""
    from cdc_rs_spark.sources.sinks import exactly_once_parquet_batch
    from cdc_rs_spark.streaming.datasource import register_change_feed

    register_change_feed(spark)
    src = str(tmp_path / "feed")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("change_feed")
            .option("path", src)
            .load()
            .writeStream.foreachBatch(exactly_once_parquet_batch(out))
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)

    _write_changes(src, "bin.000001", [_chg("Insert", 1, "a", 10), _chg("Insert", 2, "b", 11)])
    run_once()  # batch 0: committed cleanly

    # tail grows; next run consumes it as batch 1
    _write_changes(src, "bin.000001", [
        _chg("Insert", 1, "a", 10), _chg("Insert", 2, "b", 11), _chg("Update", 1, "c", 12),
    ])
    run_once()
    assert sorted(
        r["ts"] for r in spark.read.parquet(out).collect()
    ) == [10, 11, 12]

    # CRASH INJECTION: offset WAL says batch 1 was planned, commit log now
    # says it never finished — the classic sink-wrote-but-offset-uncommitted
    # window. (The sink's batch_id=1 partition ALREADY holds ts=12.) The
    # checksum sidecar must go with the marker, or the replayed commit's
    # re-create hits FileAlreadyExists.
    commit_marker = os.path.join(ckpt, "commits", "1")
    assert os.path.exists(commit_marker)
    os.remove(commit_marker)
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)

    # the feed moves on while the consumer is down: tail grows + rotation
    _write_changes(src, "bin.000001", [
        _chg("Insert", 1, "a", 10), _chg("Insert", 2, "b", 11),
        _chg("Update", 1, "c", 12), _chg("Delete", 2, None, 13),
    ])
    _write_changes(src, "bin.000002", [_chg("Insert", 3, "d", 14)])

    run_once()  # replays batch 1 (idempotent overwrite), then batch 2
    got = spark.read.parquet(out).collect()
    assert sorted(r["ts"] for r in got) == [10, 11, 12, 13, 14], (
        "exactly-once violated across crash: " + str(sorted(r["ts"] for r in got))
    )


def test_change_feed_permissive_quarantines_poison_records(spark, tmp_path):
    """mode=permissive: corrupt lines become inspectable Malformed rows
    instead of failing the task; failfast (default) raises."""
    from cdc_rs_spark.streaming.datasource import register_change_feed

    register_change_feed(spark)
    src = str(tmp_path / "feed")
    os.makedirs(src, exist_ok=True)
    good = json.dumps(
        {"op": "Insert", "db": "d", "table": "t",
         "after": {"id": "1"}, "ts": 10, "pkey": "id"}
    )
    with open(os.path.join(src, "bin.000001"), "w") as f:
        f.write(good + "\n")
        f.write("{this is not json\n")
        f.write(json.dumps({"op": "Update"}) + "\n")  # missing required keys

    df = (
        spark.read.format("change_feed")
        .option("path", src)
        .option("mode", "permissive")
        .load()
    )
    rows = df.collect()
    assert len(rows) == 3
    ops = sorted(r["op"] for r in rows)
    assert ops == ["Insert", "Malformed", "Malformed"]
    bad = [r for r in rows if r["op"] == "Malformed"]
    assert all(r["after"]["raw"] for r in bad)

    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.read.format("change_feed").option("path", src).load().collect()


def test_full_pipeline_on_change_feed_datasource(spark, tmp_path):
    """The reference main loop running on the custom Python DataSource:
    change_feed source -> regex gate -> BigQuery envelope -> topic routing
    -> executor-side publish, offsets in the checkpoint WAL."""
    from cdc_rs_spark.pipeline import PipelineConfig, run_pipeline_once

    src = str(tmp_path / "feed")
    _write_changes(src, "bin.000001", [
        _chg("Insert", 1, "a", 10),
        _chg("Update", 2, "b", 11),
    ])
    out = str(tmp_path / "topics")

    def publish(topic: str, values: list[str]) -> None:
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, topic.replace("/", "_")), "a") as f:
            for v in values:
                f.write(v + "\n")

    cfg = PipelineConfig(
        source_path=src,
        checkpoint_dir=str(tmp_path / "ckpt"),
        table_regex=r"^testdb\..*",
        topic_template="cdc.${db}.${table}",
        publish=publish,
        source_format="change_feed",
    )
    run_pipeline_once(spark, cfg)
    files = os.listdir(out)
    assert files == ["cdc.testdb.t"]
    lines = open(os.path.join(out, files[0])).read().strip().splitlines()
    assert len(lines) == 2
    assert all('"_CHANGE_TYPE": "UPSERT"' in ln or '"_CHANGE_TYPE":"UPSERT"' in ln for ln in lines)


def test_streaming_join_view_maintenance(spark, tmp_path):
    """Streaming form of cdc_join_view_maintenance: each micro-batch's fact
    deltas join the broadcast dimension BEFORE landing in the delta log, so
    the maintained enriched view (sum of deltas per region) equals a batch
    recompute — including a cross-batch key migration whose retraction
    lands in a later micro-batch, and a fact keyed to a region that ends
    empty (dropped by the n>0 gate, exactly like a recompute)."""
    from cdc_rs_spark.operators.incremental import join_deltas

    src = str(tmp_path / "jv_src")
    deltas_dir = str(tmp_path / "jv_deltas")
    ckpt = str(tmp_path / "jv_ckpt")

    dim = spark.createDataFrame(
        [(1, "east"), (2, "east"), (3, "west")], "ck long, region string"
    )

    def envelope(op, before, after, ts):
        return {"op": op, "db": "d", "table": "t", "before": before,
                "after": after, "ts": ts, "pkey": "id"}

    def apply_batch(batch_df, _batch_id):
        # per-batch: deltas ⋈ dim -> (region, dn, dv) rows appended; the
        # maintained view is the running sum of this log
        join_deltas(
            batch_df,
            dim,
            key_of=lambda img: img["ck"].cast("bigint"),
            dim_key="ck",
            group_col="region",
            value_of=lambda img: img["v"].cast("decimal(18,2)"),
        ).write.mode("append").parquet(deltas_dir)

    def run():
        q = (
            read_change_stream(spark, src)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    _write_changes(src, "b1.json", [
        envelope("Insert", None, {"id": "10", "ck": "1", "v": "10.00"}, 1),
        envelope("Insert", None, {"id": "11", "ck": "2", "v": "5.00"}, 2),
        envelope("Insert", None, {"id": "12", "ck": "3", "v": "7.00"}, 3),
    ])
    run()
    _write_changes(src, "b2.json", [
        # customer swap east->west for fact 10 (key migration across batches)
        envelope("Update", {"id": "10", "ck": "1", "v": "10.00"},
                 {"id": "10", "ck": "3", "v": "10.00"}, 4),
        # west's original fact deleted
        envelope("Delete", {"id": "12", "ck": "3", "v": "7.00"}, None, 5),
    ])
    run()

    maintained = {
        r.region: (r.n, str(r.total))
        for r in spark.read.parquet(deltas_dir)
        .groupBy("region")
        .agg(F.sum("n_rows").alias("n"), F.sum("total").alias("total"))
        .filter(F.col("n") > 0)
        .collect()
    }
    assert maintained == {"east": (1, "5.00"), "west": (1, "10.00")}


def test_change_feed_schema_evolution_mid_stream(spark, tmp_path):
    """Mid-stream schema evolution through the REAL streaming source: after
    the first micro-batches commit, the upstream starts emitting records
    whose after-image carries an added column. The map-typed envelope
    (schema-on-read, the reference's core data-model property —
    src/main.rs:442-507) must absorb it across a checkpointed restart: one
    stable Spark schema throughout, typed projection of the new field is
    NULL exactly for keys whose latest image predates the DDL, and
    compaction mixes v1/v2 rows without a migration step."""
    from cdc_rs_spark.operators.compaction import latest_per_key
    from cdc_rs_spark.streaming.datasource import register_change_feed

    register_change_feed(spark)
    src = str(tmp_path / "feed")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def v2(op, key, val, ts, region):
        row = _chg(op, key, val, ts)
        row["after"] = dict(row["after"], region=region)
        return row

    _write_changes(
        src, "bin.000001",
        [_chg("Insert", 1, "a", 10), _chg("Insert", 2, "b", 11)],
    )

    def run_once():
        q = (
            spark.readStream.format("change_feed")
            .option("path", src)
            .load()
            .writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    schema_v1 = spark.read.parquet(out).schema

    # the "DDL": new records carry after.region; old files untouched
    _write_changes(
        src, "bin.000002",
        [v2("Update", 2, "b2", 12, "emea"), v2("Insert", 3, "c", 13, "apac")],
    )
    run_once()

    got = spark.read.parquet(out)
    assert got.schema == schema_v1  # map-typed envelope: schema is stable
    assert got.count() == 4

    state = latest_per_key(got, drop_deletes=True).select(
        F.col("after")["id"].cast("int").alias("id"),
        F.col("after")["v"].alias("v"),
        F.col("after")["region"].alias("region"),
    )
    rows = {r["id"]: (r["v"], r["region"]) for r in state.collect()}
    assert rows == {1: ("a", None), 2: ("b2", "emea"), 3: ("c", "apac")}


def test_cli_main_runs_pipeline_once(spark, tmp_path):
    """The `python -m cdc_rs_spark` CLI (the reference binary's invocation
    shape): --source/--state/--regex/--script/--once drain the feed through
    the scripted pipeline and dry-run-publish (topic, value) parquet frames
    under --out, written executor-side with pyarrow (no SparkSession on
    the publish path). A second --once run with the same --state is a
    no-op — the checkpoint IS the reference's log_pos state."""
    from cdc_rs_spark.__main__ import main
    from cdc_rs_spark.plans.cdc import RHAI_DEMO_SCRIPT

    src = str(tmp_path / "src")
    _write_changes(src, "b1.json", [
        _chg("Insert", "1", "a", 100),
        _chg("Update", "2", "b", 101),
    ])
    script = tmp_path / "user.rhai"
    script.write_text(RHAI_DEMO_SCRIPT)
    out = str(tmp_path / "published")
    state = str(tmp_path / "state")

    rc = main(
        [
            "--source", src,
            "--state", state,
            "--regex", r"^testdb\..*",
            "--script", str(script),
            "--out", out,
            "--once",
        ],
        spark=spark,
    )
    assert rc == 0
    frames = spark.read.parquet(out)
    assert frames.count() == 2
    assert set(frames.columns) == {"topic", "value"}
    topics = {r["topic"] for r in frames.select("topic").distinct().collect()}
    assert all("testdb" in t or "t" in t for t in topics)

    # restart with same state: nothing new to publish, no duplicate frames
    rc = main(
        [
            "--source", src,
            "--state", state,
            "--regex", r"^testdb\..*",
            "--script", str(script),
            "--out", out,
            "--once",
        ],
        spark=spark,
    )
    assert rc == 0
    assert spark.read.parquet(out).count() == 2


def test_cli_backfill_queue_dual_source(spark, tmp_path):
    """The reference's second source through the CLI: --enqueue-backfill
    appends a todo job (the `insert into backfill ...` analog), and a
    --once run with --backfill-queue/--data-dir drains the snapshot
    through the SAME script transform + publish path as the stream, then
    marks the job done — a second run publishes no backfill rows."""
    import shutil

    from cdc_rs_spark.__main__ import main
    from cdc_rs_spark.sources.backfill import BackfillQueue

    src = str(tmp_path / "src")
    _write_changes(src, "b1.json", [_chg("Insert", "1", "a", 100)])
    data = str(tmp_path / "data")
    os.makedirs(data)
    shutil.copy(
        "/root/testdata/sf0.001/orders.parquet", data + "/orders.parquet"
    )
    queue = str(tmp_path / "queue.json")
    out = str(tmp_path / "published")
    state = str(tmp_path / "state")

    rc = main(
        ["--enqueue-backfill", "testdb.orders:o_orderkey:o_orderkey,o_totalprice",
         "--backfill-queue", queue, "--source", src, "--state", state],
        spark=spark,
    )
    assert rc == 0
    assert len(BackfillQueue(queue).todo()) == 1

    common = [
        "--source", src, "--state", state, "--regex", r"^testdb\..*",
        "--backfill-queue", queue, "--data-dir", data, "--out", out, "--once",
    ]
    assert main(common, spark=spark) == 0
    assert not BackfillQueue(queue).todo()  # job committed done
    frames = spark.read.parquet(out)
    n_orders = spark.read.parquet(data + "/orders.parquet").count()
    assert frames.count() == n_orders + 1  # snapshot + the live insert

    # second run: queue drained, stream checkpointed -> nothing new
    assert main(common, spark=spark) == 0
    assert spark.read.parquet(out).count() == n_orders + 1


def test_stream_monitor_captures_progress(spark, tmp_path):
    """Observability: StreamMonitor's listener captures per-batch progress
    (rows, durations, state size) and the lag_report rollup — the
    structured analog of the reference's tracing logs (src/main.rs:115-121).
    Stateful aggregation must surface non-zero state rows."""
    import time as _time

    from cdc_rs_spark.streaming.metrics import StreamMonitor

    src = str(tmp_path / "src")
    _write_changes(src, "b1.json", [
        _chg("Insert", str(i), "x", 100 + i) for i in range(10)
    ])
    log_path = str(tmp_path / "progress.jsonl")
    mon = StreamMonitor(spark, path=log_path)
    try:
        from cdc_rs_spark.streaming.source import read_change_stream

        counts = (
            read_change_stream(spark, src)
            .groupBy("op")
            .count()
        )
        q = (
            counts.writeStream.format("memory")
            .queryName("mon_counts")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # listener events are async; give the bus a moment
        deadline = _time.time() + 20
        while _time.time() < deadline:
            if any(r["num_input_rows"] for r in mon.snapshot()):
                break
            _time.sleep(0.5)
        rows = mon.snapshot()
        assert any(r["num_input_rows"] == 10 for r in rows), rows
        assert any(r["state_rows"] > 0 for r in rows), rows
        report = mon.lag_report()
        assert report and report[0]["rows"] >= 10
        with open(log_path) as f:
            assert sum(1 for _ in f) == len(rows)
    finally:
        mon.stop()


def test_cli_enqueue_backfill_rejects_malformed_spec(spark, tmp_path):
    """Malformed --enqueue-backfill specs exit 2 with a usage message, not
    a traceback; the queue file stays untouched."""
    from cdc_rs_spark.__main__ import main

    queue = str(tmp_path / "q.json")
    base = ["--source", "x", "--state", "y", "--backfill-queue", queue]
    for bad in ("testdb.orders", "no_dot:pk", "db.:pk", ".t:pk"):
        rc = main(["--enqueue-backfill", bad] + base, spark=spark)
        assert rc == 2, bad
    assert not os.path.exists(queue)


def test_backfill_queue_publish_failure_keeps_jobs_todo(spark, tmp_path):
    """Durability of the backfill drain: if the publish pass fails, job
    status must stay 'todo' so the next poll retries — the reference
    commits status only after streaming all pages (src/main.rs:352-366).
    A subsequent drain with a healthy publisher succeeds and only then
    flips the job done."""
    import shutil

    from cdc_rs_spark.pipeline import PipelineConfig, run_backfill_queue
    from cdc_rs_spark.sources.backfill import (
        BackfillJob,
        BackfillQueue,
    )

    data = str(tmp_path / "data")
    os.makedirs(data)
    shutil.copy(
        "/root/testdata/sf0.001/orders.parquet", data + "/orders.parquet"
    )
    queue_path = str(tmp_path / "queue.json")
    queue = BackfillQueue(queue_path)
    queue.enqueue([BackfillJob(db="testdb", relation="orders", pkey="o_orderkey")])

    def failing_publish(topic, values):
        raise RuntimeError("publisher down")

    cfg = PipelineConfig(
        source_path="unused",
        checkpoint_dir=str(tmp_path / "ckpt"),
        table_regex=r"^testdb\..*",
        publish=failing_publish,
    )
    with pytest.raises(Exception):
        run_backfill_queue(spark, cfg, queue_path, data)
    assert len(BackfillQueue(queue_path).todo()) == 1  # NOT lost

    published = []
    cfg.publish = lambda topic, values: published.append((topic, len(values)))
    n = run_backfill_queue(spark, cfg, queue_path, data)
    assert n == spark.read.parquet(data + "/orders.parquet").count()
    assert not BackfillQueue(queue_path).todo()


def test_parallel_filtered_pipelines_partition_one_feed(spark, tmp_path):
    """The reference's scale-out model is N deployments with disjoint
    --regex over one source (flake.nix:125-151, different server-ids).
    Two pipelines with disjoint table regexes and SEPARATE checkpoints
    over the SAME feed directory must each deliver exactly their tables —
    together covering the feed once, independently resumable."""
    import json as _json
    import os

    from cdc_rs_spark.pipeline import PipelineConfig, run_pipeline_once

    src = str(tmp_path / "feed")
    rows = []
    for i in range(6):
        table = "orders" if i % 2 == 0 else "audit_log"
        rows.append(
            {
                "op": "Insert", "db": "testdb", "table": table,
                "before": None, "after": {"id": i, "v": f"x{i}"},
                "ts": 10 + i, "pkey": "id",
            }
        )
    _write_changes(src, "feed.json", rows)

    outs = {}
    for name, regex in (
        ("orders_pipe", r"^testdb\.orders$"),
        ("audit_pipe", r"^testdb\.audit_log$"),
    ):
        out_dir = str(tmp_path / f"out_{name}")
        outs[name] = out_dir

        def publish(topic: str, values: list[str], _d=out_dir) -> None:
            os.makedirs(_d, exist_ok=True)
            import uuid as _uuid

            with open(os.path.join(_d, _uuid.uuid4().hex), "w") as f:
                for v in values:
                    f.write(v + "\n")

        cfg = PipelineConfig(
            source_path=src,
            checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
            table_regex=regex,
            publish=publish,
        )
        run_pipeline_once(spark, cfg)

    def published(out_dir):
        recs = []
        for fn in os.listdir(out_dir):
            with open(os.path.join(out_dir, fn)) as f:
                recs += [_json.loads(line) for line in f if line.strip()]
        return recs

    got_orders = published(outs["orders_pipe"])
    got_audit = published(outs["audit_pipe"])
    assert len(got_orders) == 3 and len(got_audit) == 3
    assert {r["id"] for r in got_orders} == {"0", "2", "4"}
    assert {r["id"] for r in got_audit} == {"1", "3", "5"}


def test_poison_records_route_to_dead_letter_topic(spark, tmp_path):
    """Permissive-mode quarantine rows must NOT be silently swallowed by
    the table-regex gate: they bypass gate + envelope to the dead-letter
    topic carrying the raw payload, while healthy rows flow normally."""
    import json as _json
    import os

    from cdc_rs_spark.pipeline import PipelineConfig, run_pipeline_once

    src = str(tmp_path / "feed")
    os.makedirs(src)
    with open(os.path.join(src, "f.json"), "w") as f:
        f.write(_json.dumps({
            "op": "Insert", "db": "testdb", "table": "orders",
            "before": None, "after": {"id": 1, "v": "a"}, "ts": 10,
            "pkey": "id",
        }) + "\n")
        f.write("{this is not json\n")
        f.write(_json.dumps({
            "op": "Insert", "db": "testdb", "table": "ignored_tbl",
            "before": None, "after": {"id": 2, "v": "b"}, "ts": 11,
            "pkey": "id",
        }) + "\n")

    out_dir = str(tmp_path / "published")

    def publish(topic: str, values: list[str]) -> None:
        import uuid as _uuid

        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, _uuid.uuid4().hex), "w") as fh:
            for v in values:
                fh.write(topic + "\t" + v + "\n")

    # permissive change_feed source: the bad line becomes a Malformed row
    from cdc_rs_spark.streaming.datasource import register_change_feed

    register_change_feed(spark)
    cfg = PipelineConfig(
        source_path=src,
        checkpoint_dir=str(tmp_path / "ckpt"),
        table_regex=r"^testdb\.orders$",  # drops ignored_tbl, NOT poison
        publish=publish,
        source_format="change_feed",
    )
    # permissive mode comes from the source option; wire it directly
    from cdc_rs_spark.pipeline import apply_transform

    changes = (
        spark.readStream.format("change_feed")
        .option("path", src)
        .option("mode", "permissive")
        .load()
    )
    frames = apply_transform(changes, cfg)
    q = (
        frames.writeStream.foreachBatch(
            lambda bdf, bid: bdf.write.mode("append").parquet(
                str(tmp_path / "frames")
            )
        )
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    rows = spark.read.parquet(str(tmp_path / "frames")).collect()
    by_topic = {}
    for r in rows:
        by_topic.setdefault(r["topic"], []).append(r["value"])
    assert any(t == "deadletter" for t in by_topic), by_topic
    dead = _json.loads(by_topic["deadletter"][0])
    assert "{this is not json" in dead["raw"]
    normal = [t for t in by_topic if t != "deadletter"]
    assert len(normal) == 1 and "orders" in normal[0]
    assert len(by_topic[normal[0]]) == 1  # ignored_tbl gated out, id=1 kept


def test_batch_change_feed_malformed_routes_to_dead_letter(spark, tmp_path):
    """ADVICE r4: a BATCH change_feed read in permissive mode emits the
    same op='Malformed' quarantine rows as the stream — apply_transform
    must route them to the dead-letter topic there too, not silently drop
    them at the regex gate (the old changes.isStreaming key did)."""
    import json as _json
    import os

    from cdc_rs_spark.pipeline import PipelineConfig, apply_transform
    from cdc_rs_spark.streaming.datasource import register_change_feed

    register_change_feed(spark)
    src = str(tmp_path / "feed")
    os.makedirs(src)
    with open(os.path.join(src, "f.json"), "w") as f:
        f.write(_json.dumps({
            "op": "Insert", "db": "testdb", "table": "orders",
            "before": None, "after": {"id": 1, "v": "a"}, "ts": 10,
            "pkey": "id",
        }) + "\n")
        f.write("not json at all\n")
    cfg = PipelineConfig(
        source_path=src,
        checkpoint_dir=str(tmp_path / "ckpt"),
        table_regex=r"^testdb\.orders$",
        source_format="change_feed",
    )
    changes = (
        spark.read.format("change_feed")
        .option("path", src)
        .option("mode", "permissive")
        .load()
    )
    rows = apply_transform(changes, cfg).collect()
    topics = {r["topic"] for r in rows}
    assert "deadletter" in topics, topics
    dead = [r for r in rows if r["topic"] == "deadletter"]
    assert len(dead) == 1 and "not json at all" in dead[0]["value"]
    assert len(rows) == 2  # healthy row still published normally


def test_out_of_order_feed_file_is_flagged(tmp_path):
    """ADVICE r4: a file whose name sorts BELOW the committed offset's file
    and that appears AFTER commit violates the sorted-name arrival
    contract — partitions() must flag it (error log by default, fatal with
    failOnOutOfOrderFiles=true) instead of silently never reading it."""
    import os

    import pytest

    from cdc_rs_spark.streaming.datasource import ChangeFeedStreamReader

    src = str(tmp_path / "feed")
    os.makedirs(src)
    with open(os.path.join(src, "b.json"), "w") as f:
        f.write('{"op":"Insert","db":"d","table":"t","after":{},"ts":1}\n')
    reader = ChangeFeedStreamReader(
        {"path": src, "failOnOutOfOrderFiles": "true"}
    )
    # batch 1: the listing seeds the known-name set
    end = reader.latestOffset()
    assert reader.partitions({"file": "", "pos": 0}, end)
    # a LATE file sorting below the committed offset appears
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write('{"op":"Insert","db":"d","table":"t","after":{},"ts":2}\n')
    with pytest.raises(RuntimeError, match="sorted-name arrival"):
        reader.partitions({"file": "b.json", "pos": 1}, {"file": "b.json", "pos": 1})
    # default mode: same situation only logs — partitions still plans
    reader2 = ChangeFeedStreamReader({"path": src})
    # simulate: seed with a listing that lacks a.json by removing it first
    os.remove(os.path.join(src, "a.json"))
    reader2.partitions({"file": "", "pos": 0}, reader2.latestOffset())
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write('{"op":"Insert","db":"d","table":"t","after":{},"ts":2}\n')
    out = reader2.partitions(
        {"file": "b.json", "pos": 1}, {"file": "b.json", "pos": 1}
    )
    assert out == []  # planned past it; flagged in the log, not fatal


def test_out_of_order_file_detected_while_idle(tmp_path):
    """Round-5 review: a caught-up stream never calls partitions(), so the
    late-file check must also run from latestOffset(), which the engine
    polls continuously."""
    import os

    import pytest

    from cdc_rs_spark.streaming.datasource import ChangeFeedStreamReader

    src = str(tmp_path / "feed")
    os.makedirs(src)
    with open(os.path.join(src, "b.json"), "w") as f:
        f.write('{"op":"Insert","db":"d","table":"t","after":{},"ts":1}\n')
    reader = ChangeFeedStreamReader(
        {"path": src, "failOnOutOfOrderFiles": "true"}
    )
    end = reader.latestOffset()
    reader.partitions({"file": "", "pos": 0}, end)  # stream catches up
    # idle poll: no new data, engine only calls latestOffset()
    assert reader.latestOffset() == end
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write('{"op":"Insert","db":"d","table":"t","after":{},"ts":2}\n')
    with pytest.raises(RuntimeError, match="sorted-name arrival"):
        reader.latestOffset()


def test_curation_funnel_replay_idempotent(spark, tmp_path):
    """The composed curation step (VERDICT r8 next #5) through a REAL
    Structured Streaming run: a parquet file source delivers two
    micro-batches into plans/pipeline.funnel_foreach_batch (gates ->
    additive stage counts -> cluster-dedup fold -> NB count fold), then
    the SAME files replay through a FRESH checkpoint (at-least-once
    re-delivery with the same restarting batch ids) — every store's
    ledger must skip the replays, leaving the merged stage counts, the
    live cluster map and the NB token counts byte-identical."""
    import os
    import shutil

    from cdc_rs_spark.plans.pipeline import funnel_foreach_batch
    from cdc_rs_spark.streaming.additive import init_additive_store, read_merged
    from cdc_rs_spark.streaming.classifier import init_count_store, read_counts
    from cdc_rs_spark.streaming.clusters import init_cluster_store, live_cluster_map

    # crafted corpus: an English near-dup pair SPLIT ACROSS the two
    # batches (cross-batch catch through the band store), a unique
    # English doc, a non-English doc (gated out), a delete op
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away to the green hills beyond the river " * 2)
    rows_b1 = [
        (2, base, "src0", "c"),
        (4, "el zorro marron rapido salta sobre el perro " * 4, "src0", "c"),
        (19 * 2, base + " extra", "src1", "d"),  # delete: envelope-gated
    ]
    rows_b2 = [
        (3, base + " tail words here", "src11", "c"),  # near-dup of doc 2
        (5, "the stars and the planets of the solar system with many "
            "moons and comets in wide orbits around the sun while the "
            "telescopes watch the sky and the rockets fly to stations",
            "src11", "c"),
    ]
    src = str(tmp_path / "feed_src")
    os.makedirs(src)
    schema = "doc_id long, text string, source string, op string"
    spark.createDataFrame(rows_b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows_b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    root = str(tmp_path / "stores")
    counts_root, nb_root = f"{root}/counts", f"{root}/nb"
    clusters_root = f"{root}/clusters"
    sig_path, sh_path = f"{root}/sig", f"{root}/sh"
    init_additive_store(spark, counts_root, {"stage": "string"}, ["n"])
    init_count_store(spark, nb_root)
    init_cluster_store(spark, clusters_root)
    fn = funnel_foreach_batch(
        counts_root, nb_root, clusters_root, sig_path, sh_path
    )

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # two files -> two batches
            .parquet(src)
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    run_stream(str(tmp_path / "ckpt1"))

    def snapshot():
        stages = {
            r["stage"]: r["n"] for r in read_merged(spark, counts_root).collect()
        }
        cmap = sorted(
            (r["doc_id"], r["cluster"])
            for r in live_cluster_map(spark, clusters_root).collect()
        )
        counts = sorted(
            (r["token"], r["c_a"], r["c_b"])
            for r in read_counts(spark, nb_root).collect()
        )
        return stages, cmap, counts

    s1 = snapshot()
    stages, cmap, _ = s1
    assert stages["feed"] == 5
    assert stages["inserts"] == 4  # the delete op gated out
    assert stages["len_ge_20"] == 3  # spanish doc gated out
    assert cmap == [(2, 2), (3, 2)]  # the CROSS-BATCH near-dup caught

    # replay: a fresh checkpoint re-delivers both files with batch ids
    # restarting at 0 — the ledgers must absorb them
    run_stream(str(tmp_path / "ckpt2"))
    assert snapshot() == s1


def test_funnel_retraction_replay_idempotent(spark, tmp_path):
    """The DELETE path (round 10, VERDICT r9 next #1) through a REAL
    Structured Streaming run: batch 1 inserts an English near-dup pair
    plus a unique doc, batch 2 DELETES one half of the pair (op='d'
    with the before-image) — the survivor must drop to an implicit
    singleton, the deleted doc's tokens must cancel out of the NB store,
    and the signed stage counts must net to the live corpus. Then the
    same files replay through a fresh checkpoint: both the insert ('s')
    and delete ('d') ledger lines must absorb the re-delivery, leaving
    every store byte-identical."""
    import os

    from cdc_rs_spark.plans.pipeline import funnel_foreach_batch
    from cdc_rs_spark.streaming.additive import init_additive_store, read_merged
    from cdc_rs_spark.streaming.classifier import init_count_store, read_counts
    from cdc_rs_spark.streaming.clusters import (
        init_cluster_store,
        live_cluster_map,
        tombstones,
    )

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away to the green hills beyond the river " * 2)
    uniq = ("the stars and the planets of the solar system with many "
            "moons and comets in wide orbits around the sun while the "
            "telescopes watch the sky and the rockets fly to stations")
    schema = "doc_id long, text string, source string, op string"
    rows_b1 = [
        (2, base, "src0", "c"),
        (3, base + " tail words here", "src11", "c"),  # near-dup of 2
        (5, uniq, "src11", "c"),
    ]
    rows_b2 = [
        (3, base + " tail words here", "src11", "d"),  # delete: before-image
    ]
    src = str(tmp_path / "feed_src")
    os.makedirs(src)
    for rows in (rows_b1, rows_b2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    root = str(tmp_path / "stores")
    counts_root, nb_root = f"{root}/counts", f"{root}/nb"
    clusters_root = f"{root}/clusters"
    sig_path, sh_path = f"{root}/sig", f"{root}/sh"
    init_additive_store(spark, counts_root, {"stage": "string"}, ["n"])
    init_count_store(spark, nb_root)
    init_cluster_store(spark, clusters_root)
    fn = funnel_foreach_batch(
        counts_root, nb_root, clusters_root, sig_path, sh_path,
        handle_deletes=True,
    )

    def run_stream(ckpt: str) -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    run_stream(str(tmp_path / "ckpt1"))

    def snapshot():
        stages = {
            r["stage"]: r["n"] for r in read_merged(spark, counts_root).collect()
        }
        cmap = sorted(
            (r["doc_id"], r["cluster"])
            for r in live_cluster_map(spark, clusters_root).collect()
        )
        counts = sorted(
            (r["token"], r["c_a"], r["c_b"])
            for r in read_counts(spark, nb_root).collect()
        )
        return stages, cmap, counts

    s1 = snapshot()
    stages, cmap, counts = s1
    assert stages["inserts"] == 3
    assert stages["deletes"] == 1
    assert stages["live"] == 2
    assert stages["len_ge_20"] == 2  # net of the retracted doc
    # the deleted doc's near-dup partner dropped to an implicit singleton
    assert cmap == []
    assert {r["doc_id"] for r in tombstones(spark, clusters_root).collect()} == {3}
    # NB counts == batch counts over the LIVE corpus (docs 2 and 5 only)
    live_toks = {}
    for doc_id, text, source, _ in rows_b1:
        if doc_id == 3:
            continue
        for t in text.lower().split(" "):
            if t:
                k = (t, len(source) <= 4)
                live_toks[k] = live_toks.get(k, 0) + 1
    expected = {}
    for (t, is_a), n in live_toks.items():
        ca, cb = expected.get(t, (0, 0))
        expected[t] = (ca + n, cb) if is_a else (ca, cb + n)
    assert sorted((t, ca, cb) for t, (ca, cb) in expected.items()) == counts

    # replay through a fresh checkpoint: both ledgers absorb it
    run_stream(str(tmp_path / "ckpt2"))
    assert snapshot() == s1


# ---- one scan per micro-batch: routing, read amplification, count memo ----


def _three_leg_transform(changes, cfg, can_carry_malformed, interpret=False):
    """Reference form of pipeline.apply_transform: dead-letter, DDL and row
    legs each filtered from `changes` and unioned; `interpret` runs the
    script's row leg on the per-row interpreter. apply_transform must
    publish the same row multiset."""
    from cdc_rs_spark.functions.rhai import (
        rhai_interpret_pipeline, rhai_topic, rhai_transform_json,
    )
    from cdc_rs_spark.functions.transforms import bigquery_json, topic_column
    from cdc_rs_spark.operators.filter import regex_table_filter

    route_dead = cfg.dead_letter_topic is not None and can_carry_malformed
    if route_dead:
        dead = changes.filter(F.col("op") == "Malformed").select(
            F.lit(cfg.dead_letter_topic).alias("topic"),
            F.to_json(F.struct(
                F.element_at("after", "raw").alias("raw"), F.col("ts").alias("ts"),
            )).alias("value"),
        )
        changes = changes.filter(F.col("op") != "Malformed")
    route_ddl = cfg.schema_change_topic is not None and can_carry_malformed
    if route_ddl:
        ddl = regex_table_filter(
            changes.filter(F.col("op") == "SchemaChange"), cfg.table_regex
        ).select(
            F.lit(cfg.schema_change_topic).alias("topic"),
            F.to_json(F.struct(
                F.col("db"), F.col("table"),
                F.element_at("after", "query").alias("query"), F.col("ts"),
            )).alias("value"),
        )
    if can_carry_malformed:
        changes = changes.filter(F.col("op") != "SchemaChange")
    gated = regex_table_filter(changes, cfg.table_regex)
    if cfg.script is None:
        out = gated.select(
            topic_column(cfg.topic_template).alias("topic"),
            bigquery_json(gated).alias("value"),
        )
    elif interpret:
        out = rhai_interpret_pipeline(gated, cfg.script)
    else:
        out = gated.select(
            rhai_topic(gated, cfg.script).alias("topic"),
            rhai_transform_json(gated, cfg.script).alias("value"),
        )
    if route_ddl:
        out = out.unionByName(ddl)
    if route_dead:
        out = out.unionByName(dead)
    return out


@pytest.mark.parametrize("table_regex", [r"^testdb\.orders$", ".*"])
@pytest.mark.parametrize("can_carry", [True, False])
@pytest.mark.parametrize("ddl_topic", ["schemachanges", None])
@pytest.mark.parametrize("dead_topic", ["deadletter", None])
def test_single_scan_routing_matches_three_leg_union(
    spark, dead_topic, ddl_topic, can_carry, table_regex
):
    """apply_transform's one filter + one projection routes every op the
    way the three-leg union did, for every combination of the dead-letter
    topic, the schema-change topic, can_carry_malformed and the gate, on
    the envelope template, a compiled script and a script that falls back
    to the per-row interpreter."""
    from collections import Counter

    import cdc_rs_spark.pipeline as pipeline_mod
    from cdc_rs_spark.envelope import CHANGE_SCHEMA
    from cdc_rs_spark.pipeline import PipelineConfig, apply_transform
    from cdc_rs_spark.plans.cdc import RHAI_DEMO_SCRIPT

    # a field write inside a runtime-bound loop leaves the compiled subset
    interpreted = """
    fn transform(db, table, op, before, after, ts) {
        let m = if op == "Delete" { before } else { after };
        let i = 0;
        while i < ts { m.hops = `${i + 1}`; i = i + 1; }
        m
    }
    fn topic(db, table) { `${db}.${table}` }
    """

    rows = []
    for i, table in enumerate(["orders", "ignored"]):
        k = str(10 * i)
        rows += [
            ("Insert", "testdb", table, None, {"id": k, "v": "a"}, 1, "id"),
            ("Update", "testdb", table, {"id": k, "v": "a"}, {"id": k, "v": "b"}, 2, "id"),
            ("Delete", "testdb", table, {"id": k, "v": "b"}, None, 3, "id"),
            ("SchemaChange", "testdb", table, None,
             {"query": f"ALTER TABLE {table} ADD COLUMN c INT"}, 4, ""),
        ]
    rows.append(("Malformed", "", "", None, {"raw": "{not json"}, 0, ""))
    changes = spark.createDataFrame(rows, CHANGE_SCHEMA)
    for script in (None, RHAI_DEMO_SCRIPT, interpreted):
        cfg = PipelineConfig(
            source_path="/nonexistent", checkpoint_dir="/nonexistent",
            table_regex=table_regex, script=script,
            dead_letter_topic=dead_topic, schema_change_topic=ddl_topic,
        )
        fallbacks = pipeline_mod.INTERPRETER_FALLBACKS
        got = apply_transform(changes, cfg, can_carry_malformed=can_carry)
        interpret = pipeline_mod.INTERPRETER_FALLBACKS > fallbacks
        assert interpret == (script is interpreted)
        want = _three_leg_transform(changes, cfg, can_carry, interpret)
        assert Counter(map(tuple, got.collect())) == Counter(
            map(tuple, want.collect())
        ), script


def _streaming_leaves(df) -> list[str]:
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def _binlog_with_ddl() -> bytes:
    """5 testdb.orders row changes, then one gated ALTER marker."""
    from tests.test_binlog import _feed, _query_event

    return _feed(False) + _query_event(
        b"testdb", b"ALTER TABLE orders ADD COLUMN note TEXT", ts=1010
    )


def test_change_feed_pipeline_reads_each_record_once(spark, tmp_path):
    """The change-feed pipeline plan holds ONE streaming source leaf, and
    the micro-batches read each record once: summed numInputRows equals
    the records in the feed (read amplification 1.0), for a failfast
    run_pipeline_once over JSON rows plus a binlog with a DDL marker, and
    for a permissive read that also quarantines a malformed line."""
    from cdc_rs_spark.pipeline import (
        PipelineConfig, apply_transform, build_stream, run_pipeline_once,
    )
    from cdc_rs_spark.sources.sinks import publish_foreach_batch

    src = str(tmp_path / "feed")
    _write_changes(src, "bin.000001.json", [_chg("Insert", str(i), "v", i) for i in range(4)])
    with open(os.path.join(src, "bin.000002.binlog"), "wb") as f:
        f.write(_binlog_with_ddl())
    cfg = PipelineConfig(
        source_path=src, checkpoint_dir=str(tmp_path / "ckpt"),
        table_regex=r"^testdb\.(t|orders)$", source_format="change_feed",
        max_records_per_batch=3,
    )
    assert len(_streaming_leaves(build_stream(spark, cfg))) == 1
    q = run_pipeline_once(spark, cfg)
    assert sum(p.numInputRows for p in q.recentProgress) == 4 + 6

    with open(os.path.join(src, "bin.000003.json"), "w") as f:
        f.write("{this is not json\n")
    changes = (
        spark.readStream.format("change_feed")
        .option("path", src).option("mode", "permissive").load()
    )
    frames = apply_transform(changes, cfg)
    assert len(_streaming_leaves(frames)) == 1
    out: list = []
    q = (
        frames.writeStream.foreachBatch(
            lambda bdf, bid: out.extend(r["topic"] for r in bdf.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(p.numInputRows for p in q.recentProgress) == 4 + 6 + 1
    assert sorted(set(out)) == [
        "cdc.testdb.orders", "cdc.testdb.t", "deadletter", "schemachanges",
    ]
    assert len(out) == 4 + 6 + 1


def test_change_feed_latest_offset_counts_each_frozen_file_once(tmp_path, monkeypatch):
    """latestOffset memoizes record counts on (size, mtime): across many
    capped latestOffset -> partitions cycles each frozen file is counted
    once, an append to the tail recounts the tail alone and shows at once,
    and with gcCommitted the memo drops deleted files."""
    from collections import Counter

    from cdc_rs_spark.streaming import datasource
    from tests.test_binlog import _feed

    calls: Counter = Counter()
    real = datasource._count_records

    def counting(fp, permissive=False):
        calls[os.path.basename(fp)] += 1
        return real(fp, permissive)

    monkeypatch.setattr(datasource, "_count_records", counting)

    def backlog(src: str) -> list[str]:
        os.makedirs(src)
        names = []
        for i in range(5):  # JSON at both ends, so the tail can grow
            name = f"bin.{i:06d}." + ("binlog" if i % 2 else "json")
            if i % 2:
                with open(os.path.join(src, name), "wb") as f:
                    f.write(_feed(False))  # 5 records
            else:
                _write_changes(src, name, [_chg("Insert", str(j), "v", j) for j in range(5)])
            names.append(name)
        return names

    def drain(reader, start):
        """latestOffset -> partitions until caught up, then idle polls."""
        for _ in range(30):
            end = reader.latestOffset()
            if end == start:
                break
            assert reader.partitions(start, end)
            start = end
        for _ in range(3):
            assert reader.latestOffset() == start
        return start

    src = str(tmp_path / "feed")
    names = backlog(src)
    reader = datasource.ChangeFeedStreamReader(
        {"path": src, "maxRecordsPerBatch": "3"}
    )
    end = drain(reader, reader.initialOffset())
    assert end == {"file": names[-1], "pos": 5}
    assert calls == Counter({n: 1 for n in names})

    with open(os.path.join(src, names[-1]), "a") as f:
        f.write(json.dumps(_chg("Insert", "9", "v", 9)) + "\n")
    calls.clear()
    assert drain(reader, end) == {"file": names[-1], "pos": 6}
    assert calls == Counter({names[-1]: 1})

    gc_src = str(tmp_path / "gc")
    gc_names = backlog(gc_src)
    gc_reader = datasource.ChangeFeedStreamReader(
        {"path": gc_src, "maxRecordsPerBatch": "3", "gcCommitted": "true"}
    )
    end = drain(gc_reader, gc_reader.initialOffset())
    gc_reader.commit(end)
    left = set(os.listdir(gc_src))
    assert left == {gc_names[-1]}
    assert {os.path.basename(fp) for fp in gc_reader._counts} <= left
