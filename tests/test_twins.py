"""Twins from one plan: every name ``catalog.register_twins`` registers
ships a JSON plan that is byte-stable across a round trip and that both
compilers build; and the staged slice streams are pinned to the schema a
parquet read of their files infers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from milan_spark.catalog import REGISTRY, _ensure_loaded
from milan_spark.plans.backend_streaming import compile_node_streaming
from milan_spark.plans.nodes import compile_node, from_json, to_json
from milan_spark.sources import events_stream, table
from tests.conftest import SF_SMOKE as SF

_ensure_loaded()
TWINS = {name: spec for name, spec in REGISTRY.items() if spec.plan is not None}

# batch name -> the other names that run its plan
PAIRS = {
    "left_enrichment_join": {"streaming_left_enrichment_join", "streaming_from_ir"},
    "full_enrichment_join": {"streaming_full_enrichment_join"},
    "left_inner_enrichment_join": {"streaming_left_inner_enrichment_join"},
    "tumbling_window_daily": {"streaming_tumbling_window_daily"},
    "sliding_window_hourly": {"streaming_sliding_window_hourly"},
    "session_window_gap": {"streaming_session_window_gap"},
    "record_window_trailing": {"streaming_record_window_trailing"},
    "unique_dedup": {"streaming_unique_dedup"},
    "last_per_key": {"streaming_last_per_key"},
    "stream_max_by": {"streaming_stream_max_by"},
    "scan_threshold": {"streaming_scan_threshold"},
    "ewma_smoothing": {"ewma_smoothing_from_ir", "streaming_ewma_smoothing"},
    "left_windowed_join_temporal": {"streaming_left_windowed_join_ir"},
}


def test_each_pair_is_one_plan():
    assert set(TWINS) == set(PAIRS) | set().union(*PAIRS.values())
    for batch, others in PAIRS.items():
        for name in others:
            assert TWINS[name].plan is TWINS[batch].plan, name
            assert TWINS[name].oracle == TWINS[batch].oracle, name


@pytest.mark.parametrize("name", sorted(TWINS))
def test_plan_json_is_stable_and_both_compilers_build_it(spark, name):
    text = to_json(TWINS[name].plan())
    assert to_json(from_json(text)) == text

    batch = compile_node(
        from_json(text), spark, sources={"events": table(spark, SF, "events")}
    )
    stream = compile_node_streaming(
        from_json(text), spark, source_overrides={"events": events_stream(spark, SF)}
    )
    assert not batch.isStreaming and stream.isStreaming
    assert stream.columns == batch.columns
    assert spark.streams.active == []


def test_sliced_stream_is_pinned_to_the_schema_it_wrote(spark, tmp_path, monkeypatch):
    import tempfile

    from milan_spark.queries.streaming import _sliced_stream
    from milan_spark.streaming import last_progress, run_to_memory

    stage = tmp_path / "stage"

    def mkdtemp(prefix):
        stage.mkdir()
        return str(stage)

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    ev = table(spark, SF, "events").select("event_id", "ts", "event_type")
    preds = [F.col("event_id") % 3 == i for i in range(3)] + [F.lit(False)]
    sdf = _sliced_stream(ev, preds, "milan_test_slices_")
    assert sdf.schema == spark.read.parquet(str(stage)).schema
    out = run_to_memory(sdf, "twins_sliced")
    assert out.count() == ev.count()
    # one microbatch per slice, the empty last one included
    assert len(last_progress()) == len(preds)
