"""bench.py keeps the query names of the newest per-query artifacts in its
printed map, whatever round they come from."""

from __future__ import annotations

import json

import bench


def test_tracked_names_come_from_the_newest_artifacts(tmp_path):
    def put(name, doc):
        (tmp_path / name).write_text(json.dumps(doc))

    put("PERF_r09.json", {"per_query": {"old_perf": 1.0}})
    put("PERF_r11.json", {"per_query": {"new_perf": 1.0}})
    put("BENCH_r10.json", {"parsed": {"queries": {"old_bench": 1.0}}})
    put("BENCH_r11.json", {"parsed": {"queries": {"new_bench": 1.0}}})
    put("BENCH_r11_c8.json", {"parsed": {"queries": {"c8_bench": 1.0}}})
    assert bench._newest(str(tmp_path), "BENCH") == "BENCH_r11.json"
    assert bench._prev_tracked_names(str(tmp_path)) == {"new_perf", "new_bench"}
