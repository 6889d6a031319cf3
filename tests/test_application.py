"""Application bundle round-trip + end-to-end execution — the engine analog
of the reference's TestTreeParser.scala (JSON round-trip of whole programs)
and ApplicationInstance lifecycle (serialize → ship → bind sources → run)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from milan_spark.application import Application
from milan_spark.plans import Node

EV = "/root/testdata/sf0.001/events.parquet"


def _purchase_rollup_plan() -> Node:
    src = Node("external_stream", {"stream_id": "events"})
    filt = Node("filter", {"condition": "event_type = 'purchase'"}, [src])
    proj = Node(
        "map",
        {"exprs": ["user_id", "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents"]},
        [filt],
    )
    return Node(
        "aggregate",
        {"keys": ["user_id"], "aggs": {"n": "count(*)", "total_cents": "sum(cents)"}},
        [proj],
    )


def _bundle() -> Application:
    return Application(
        app_id="purchase_rollup",
        plan=_purchase_rollup_plan(),
        sources={"events": {"kind": "parquet", "path": EV}},
        sink={"kind": "memory", "name": "purchase_rollup_out"},
        metrics={"n_out": "count(*)", "max_total": "max(total_cents)"},
    )


def test_bundle_golden_roundtrip():
    app = _bundle()
    text = app.to_json()
    again = Application.from_json(text)
    # byte-identical re-serialization — the TreeParser round-trip contract
    assert again.to_json() == text
    assert again.app_id == "purchase_rollup"
    assert again.external_stream_ids() == {"events"}
    assert again.sources["events"]["path"] == EV
    assert again.metrics["n_out"] == "count(*)"


def test_bundle_runs_end_to_end_from_deserialized_json(spark):
    app = Application.from_json(_bundle().to_json())
    df, obs = app.run_batch(spark)
    rows = {r["user_id"]: (r["n"], r["total_cents"]) for r in df.collect()}
    assert len(rows) > 0
    # metrics rode the same action (Dataset.observe — no extra pass)
    assert obs.get["n_out"] == len(rows)
    assert obs.get["max_total"] == max(t for _, t in rows.values())
    # memory sink registered the temp view
    assert spark.table("purchase_rollup_out").columns == ["user_id", "n", "total_cents"]


def test_bundle_streaming_backend_same_results(spark):
    app = Application.from_json(_bundle().to_json())
    app.sink = {"kind": "memory", "name": "purchase_rollup_stream", "output_mode": "complete"}
    mem = app.run_streaming(spark)
    batch_df, _ = app.run_batch(spark)
    assert sorted(tuple(r) for r in mem.collect()) == sorted(
        tuple(r) for r in batch_df.collect()
    )


def test_bundle_unbound_stream_rejected():
    app = _bundle()
    app.sources = {}
    with pytest.raises(ValueError, match="unbound external streams"):
        app.to_json()


def test_bundle_bad_kinds_rejected():
    app = _bundle()
    app.sources["events"] = {"kind": "rabbitmq", "path": "amqp://..."}
    with pytest.raises(ValueError, match="unknown kind"):
        app.validate()
    app = _bundle()
    app.sink = {"kind": "dynamo"}
    with pytest.raises(ValueError, match="sink kind"):
        app.validate()


def test_unbound_external_stream_fails_at_compile(spark):
    from milan_spark.plans import compile_node

    with pytest.raises(ValueError, match="unbound"):
        compile_node(_purchase_rollup_plan(), spark)


def _multi_sink_bundle(tmpdir: str) -> Application:
    plan = _purchase_rollup_plan()
    mid = plan.inputs[0]  # the map node: per-purchase (user_id, cents)
    return Application(
        app_id="purchase_rollup_tapped",
        plan=plan,
        sources={"events": {"kind": "parquet", "path": EV}},
        sink={"kind": "memory", "name": "tapped_head_out"},
        sinks=[
            {
                "stream_id": mid.node_id,
                "kind": "file",
                "path": f"{tmpdir}/tap",
                "fmt": "parquet",
            }
        ],
    )


def test_multi_sink_batch_taps_intermediate_stream(spark, tmp_path):
    # the reference holds a LIST of StreamSink(streamId, sink) pairs and
    # allows sinks on intermediate streams (ApplicationConfiguration.scala:
    # 30,84-94) — the tap must see the PRE-aggregate rows
    app = Application.from_json(_multi_sink_bundle(str(tmp_path)).to_json())
    df, _ = app.run_batch(spark)
    head = {(r["user_id"], r["n"], r["total_cents"]) for r in df.collect()}
    tap = spark.read.parquet(f"{tmp_path}/tap")
    assert set(tap.columns) == {"user_id", "cents"}
    # tap row count = total purchases; head groups them
    assert tap.count() >= len(head) > 0
    recomputed = {
        (r["user_id"], r["n"], r["total_cents"])
        for r in tap.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total_cents"))
        .collect()
    }
    assert recomputed == head


def test_multi_sink_streaming_matches_batch(spark, tmp_path):
    app_b = Application.from_json(_multi_sink_bundle(str(tmp_path / "b")).to_json())
    df, _ = app_b.run_batch(spark)
    batch_head = sorted(tuple(r) for r in df.collect())
    batch_tap = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmp_path}/b/tap").collect()
    )

    app_s = Application.from_json(_multi_sink_bundle(str(tmp_path / "s")).to_json())
    app_s.sink = {"kind": "memory", "name": "tapped_head_out_s", "output_mode": "complete"}
    table = app_s.run_streaming(spark)
    stream_head = sorted(tuple(r) for r in table.collect())
    stream_tap = sorted(
        tuple(r) for r in spark.read.parquet(f"{tmp_path}/s/tap").collect()
    )
    assert stream_head == batch_head
    assert stream_tap == batch_tap


def test_sink_on_unknown_stream_id_rejected():
    app = _multi_sink_bundle("/tmp/x")
    app.sinks[0]["stream_id"] = "nope"
    with pytest.raises(ValueError, match="unknown\\s+stream id 'nope'"):
        app.validate()


def _lineage_bundle(tmpdir: str, state_store=None) -> Application:
    # the plan itself carries the lineage ids as columns (content-derived,
    # replay-stable) — lineage is data, written like any sink
    src = Node("external_stream", {"stream_id": "events"})
    ids = Node(
        "add_fields", {"fields": {"in_id": "xxhash64(event_id)"}}, [src]
    )
    filt = Node("filter", {"condition": "event_type = 'purchase'"}, [ids])
    head = Node(
        "add_fields", {"fields": {"out_id": "xxhash64(event_id, 'gate')"}}, [filt]
    )
    return Application(
        app_id="lineage_gate",
        plan=head,
        sources={"events": {"kind": "parquet", "path": EV}},
        sink={"kind": "memory", "name": "lineage_gate_out"},
        lineage_sinks=[
            {
                "stream_id": head.node_id,
                "out_id": "out_id",
                "in_ids": ["in_id"],
                "op": "purchase_gate",
                "kind": "file",
                "path": f"{tmpdir}/lineage",
            }
        ],
        state_store=state_store,
    )


def test_lineage_sink_writes_edge_list(spark, tmp_path):
    app = Application.from_json(_lineage_bundle(str(tmp_path)).to_json())
    df, _ = app.run_batch(spark)
    out = df.collect()
    edges = spark.read.parquet(f"{tmp_path}/lineage").collect()
    assert set(r["op"] for r in edges) == {"purchase_gate"}
    # one edge per output row, pairing its out/in ids
    assert sorted((r["output_id"], r["input_id"]) for r in edges) == sorted(
        (r["out_id"], r["in_id"]) for r in out
    )


def test_streaming_run_under_rocksdb_state_store_matches(spark, tmp_path):
    # stateStores config analog: same bundle, rocksdb-backed state — results
    # must be identical and the session conf must be restored afterwards
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    app = Application.from_json(_multi_sink_bundle(str(tmp_path / "r")).to_json())
    app.sink = {"kind": "memory", "name": "rocks_out", "output_mode": "complete"}
    app.state_store = "rocksdb"
    table = app.run_streaming(spark)
    got = sorted(tuple(r) for r in table.collect())
    bdf, _ = Application.from_json(
        _multi_sink_bundle(str(tmp_path / "b2")).to_json()
    ).run_batch(spark)
    assert got == sorted(tuple(r) for r in bdf.collect())
    assert spark.conf.get("spark.sql.streaming.stateStore.providerClass", None) == prev


def test_bad_lineage_and_state_store_rejected(tmp_path):
    app = _lineage_bundle(str(tmp_path))
    app.state_store = "dynamo"
    with pytest.raises(ValueError, match="state_store"):
        app.validate()
    app.state_store = None
    del app.lineage_sinks[0]["op"]
    with pytest.raises(ValueError, match="missing 'op'"):
        app.validate()


def test_stream_exports_as_portable_bundle(spark, tmp_path):
    # define-then-bind: a program authored against a concrete parquet path
    # exports as a bundle whose plan holds only external_stream placeholders
    from milan_spark import Stream

    s = (
        Stream.from_parquet(spark, EV)
        .where("event_type = 'purchase'")
        .group_by("user_id")
        .select(n="count(*)", total_cents="sum(CAST(floor(value * 100 + 0.5) AS BIGINT))")
    )
    app = s.to_application("exported_rollup", sink={"kind": "memory", "name": "exp_out"})
    text = app.to_json()
    assert "parquet_source" not in text and "external_stream" in text
    again = Application.from_json(text)
    assert again.external_stream_ids() == {"events"}
    assert again.sources["events"] == {"kind": "parquet", "path": EV}
    df, _ = again.run_batch(spark)
    assert sorted(tuple(r) for r in df.collect()) == sorted(tuple(r) for r in s.df.collect())
    # rebinding the configuration half redirects the SAME plan elsewhere
    spark.read.parquet(EV).limit(50).write.parquet(str(tmp_path / "small"))
    again.sources["events"]["path"] = str(tmp_path / "small")
    df2, _ = again.run_batch(spark)
    assert df2.count() <= 50


def test_streaming_metrics_surface_in_query_progress(spark):
    # the bundle's metric definitions ride the streaming query too —
    # reported per microbatch via observedMetrics (the reference computes
    # its MetricDefinitions inside the running job the same way)
    from milan_spark import streaming as st

    app = Application.from_json(_bundle().to_json())
    app.sink = {"kind": "memory", "name": "metrics_probe_out", "output_mode": "complete"}
    table = app.run_streaming(spark)
    n_rows = table.count()
    observed = [
        p["observedMetrics"]["purchase_rollup_metrics"]
        for p in st._LAST_PROGRESS
        if p.get("observedMetrics", {}).get("purchase_rollup_metrics")
    ]
    assert observed, "no observedMetrics in streaming progress"
    assert observed[-1]["n_out"] == n_rows


def test_bundle_with_left_windowed_join_both_lifecycles(spark):
    """A bundle whose plan carries the round-8 serializable
    left_windowed_join node runs from deserialized JSON on BOTH lifecycles
    (run_batch and run_streaming) with identical results — the 'ship a
    bundle containing the new op' contract."""
    purchases = Node(
        "map",
        {"exprs": ["user_id", "event_id", "event_id AS __seq"]},
        [Node("filter", {"condition": "event_type = 'purchase'"},
              [Node("external_stream", {"stream_id": "ev_l"})])],
    )
    views = Node(
        "map",
        {"exprs": ["user_id",
                   "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
                   "event_id AS __seq"]},
        [Node("filter", {"condition": "event_type = 'view'"},
              [Node("external_stream", {"stream_id": "ev_r"})])],
    )
    join = Node(
        "left_windowed_join",
        {"left_on": ["user_id"], "right_on": ["user_id"],
         "aggs": {"n_views": "count(cents)", "view_cents": "sum(cents)"},
         "left_seq": "__seq", "right_seq": "__seq"},
        [purchases, views],
    )
    out = Node(
        "map", {"exprs": ["event_id", "user_id", "n_views", "view_cents"]},
        [join],
    )
    app = Application.from_json(
        Application(
            app_id="lwj_bundle",
            plan=out,
            sources={"ev_l": {"kind": "parquet", "path": EV},
                     "ev_r": {"kind": "parquet", "path": EV}},
            sink={"kind": "memory", "name": "lwj_bundle_out"},
            metrics={"n_out": "count(*)"},
        ).to_json()
    )
    bdf, obs = app.run_batch(spark)
    batch = sorted(map(tuple, bdf.collect()))
    assert len(batch) > 0 and obs.get["n_out"] == len(batch)
    sdf = app.run_streaming(spark)
    assert sorted(map(tuple, sdf.collect())) == batch


def test_per_sink_state_store_scoping(spark, tmp_path):
    # the reference scopes state stores PER OPERATION
    # (ApplicationConfiguration.scala:121-154); here each sink entry may
    # carry its own provider — applied only around that query's start()
    # (queries clone the session conf at start), restored afterwards
    from milan_spark.application import _PROVIDER_KEY, _provider_confs
    from milan_spark.streaming import _conf_scope

    prev = spark.conf.get(_PROVIDER_KEY, None)
    with _conf_scope(spark, _provider_confs("rocksdb")):
        assert "RocksDB" in spark.conf.get(_PROVIDER_KEY)
        with _conf_scope(spark, _provider_confs("memory")):
            assert "HDFSBacked" in spark.conf.get(_PROVIDER_KEY)
        assert "RocksDB" in spark.conf.get(_PROVIDER_KEY)
    assert spark.conf.get(_PROVIDER_KEY, None) == prev
    with _conf_scope(spark, _provider_confs(None)):
        assert spark.conf.get(_PROVIDER_KEY, None) == prev

    app = Application.from_json(_multi_sink_bundle(str(tmp_path / "ps")).to_json())
    app.sinks[0]["state_store"] = "rocksdb"  # the tap alone runs on rocksdb
    app.sink = {"kind": "memory", "name": "per_sink_out",
                "output_mode": "complete", "state_store": "memory"}
    table = app.run_streaming(spark)
    got = sorted(tuple(r) for r in table.collect())
    bdf, _ = Application.from_json(
        _multi_sink_bundle(str(tmp_path / "pb")).to_json()
    ).run_batch(spark)
    assert got == sorted(tuple(r) for r in bdf.collect())
    assert spark.conf.get(_PROVIDER_KEY, None) == prev
    # bad per-sink value rejected by name
    app.sinks[0]["state_store"] = "dynamo"
    with pytest.raises(ValueError, match="state_store"):
        app.validate()
