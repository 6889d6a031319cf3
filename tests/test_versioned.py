"""operators.versioned — snapshot isolation and time travel over plain
parquet: append/overwrite/merge/compact commit kinds, reader isolation from
concurrent commits, vacuum's reference-counted cleanup, and the crash
protocol (the manifest link is the commit point)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from milan_spark.errors import MilanAnalysisError, MilanDuplicateKeyError
from milan_spark.operators.versioned import (
    commit_append,
    commit_merge,
    commit_overwrite,
    compact,
    current_version,
    read_version,
    vacuum,
    versions,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _snap(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


@pytest.fixture()
def tbl():
    return tempfile.mkdtemp(prefix="milan_vtab_")


def test_append_and_time_travel(spark, tbl):
    assert current_version(tbl) == 0
    v1 = commit_append(_df(spark, [(1, "a"), (2, "b")]), tbl, tag="base")
    v2 = commit_append(_df(spark, [(3, "c")]), tbl, tag="delta")
    assert (v1, v2) == (1, 2)
    assert _snap(read_version(spark, tbl)) == [(1, "a"), (2, "b"), (3, "c")]
    assert _snap(read_version(spark, tbl, 1)) == [(1, "a"), (2, "b")]
    ops = [(e["version"], e["op"], e["n_dirs"]) for e in versions(tbl)]
    assert ops == [(1, "append", 1), (2, "append", 2)]


def test_overwrite_keeps_history_readable(spark, tbl):
    commit_append(_df(spark, [(1, "a")]), tbl)
    commit_overwrite(_df(spark, [(9, "z")]), tbl)
    assert _snap(read_version(spark, tbl)) == [(9, "z")]
    assert _snap(read_version(spark, tbl, 1)) == [(1, "a")]


def test_merge_replaces_whole_rows(spark, tbl):
    commit_append(_df(spark, [(1, "a"), (2, "b")]), tbl)
    commit_merge(spark, _df(spark, [(2, "B"), (3, "C")]), tbl, ["k"])
    assert _snap(read_version(spark, tbl)) == [(1, "a"), (2, "B"), (3, "C")]
    # pre-merge snapshot untouched
    assert _snap(read_version(spark, tbl, 1)) == [(1, "a"), (2, "b")]
    # a matched update replaces the whole row: its NULL is written
    commit_merge(spark, _df(spark, [(2, None)]), tbl, ["k"])
    assert _snap(read_version(spark, tbl)) == [(1, "a"), (2, None), (3, "C")]


def test_merge_into_empty_table_and_duplicate_keys(spark, tbl):
    def rows(df):
        return {(r["k"], r["v"]) for r in df.collect()}

    # no commits yet: the updates become version 1
    assert commit_merge(spark, _df(spark, [(None, "n"), (1, "a")]), tbl, ["k"]) == 1
    # keys match null-safely: the NULL key is replaced, not inserted twice
    commit_merge(spark, _df(spark, [(None, "N")]), tbl, ["k"])
    assert rows(read_version(spark, tbl)) == {(None, "N"), (1, "a")}
    with pytest.raises(MilanDuplicateKeyError, match=r"key \{'k': 1\} has 2 rows"):
        commit_merge(spark, _df(spark, [(1, "x"), (1, "y"), (2, "b")]), tbl, ["k"])
    assert current_version(tbl) == 2
    seq = tempfile.mkdtemp(prefix="milan_vtab_")
    commit_merge(
        spark,
        spark.createDataFrame([(1, "x", 1), (1, "y", 9)], "k long, v string, s long"),
        seq, ["k"], seq_col="s",
    )
    assert rows(read_version(spark, seq)) == {(1, "y")}


def test_commit_into_plain_parquet_table_raises(spark, tbl):
    """A plain-parquet table (an upsert sink's before it was versioned) has
    no commits; merging into it as if empty would hide its rows, so every
    commit raises and leaves the directory as it was."""
    import os

    plain = os.path.join(tbl, "t")
    _df(spark, [(1, "a")]).write.parquet(plain)
    before = sorted(os.listdir(plain))
    with pytest.raises(MilanAnalysisError, match="plain parquet"):
        commit_merge(spark, _df(spark, [(2, "b")]), plain, ["k"])
    with pytest.raises(MilanAnalysisError, match="plain parquet"):
        commit_append(_df(spark, [(2, "b")]), plain)
    assert sorted(os.listdir(plain)) == before
    assert _snap(spark.read.parquet(plain)) == [(1, "a")]


def test_snapshot_isolation_across_concurrent_commit(spark, tbl):
    commit_append(_df(spark, [(1, "a")]), tbl)
    snapshot = read_version(spark, tbl)  # resolved at version 1
    commit_overwrite(_df(spark, [(2, "b")]), tbl)  # concurrent writer
    # the earlier reader still evaluates against its immutable snapshot
    assert _snap(snapshot) == [(1, "a")]
    assert _snap(read_version(spark, tbl)) == [(2, "b")]


@pytest.mark.slow
def test_compact_folds_dirs_result_identical(spark, tbl):
    for i in range(4):
        commit_append(_df(spark, [(i, str(i))]), tbl)
    before = _snap(read_version(spark, tbl))
    v = compact(spark, tbl)
    assert versions(tbl)[-1] == {"version": v, "op": "compact", "tag": None, "n_dirs": 1}
    assert _snap(read_version(spark, tbl)) == before


def test_vacuum_reference_counted(spark, tbl):
    commit_append(_df(spark, [(1, "a")]), tbl)
    commit_append(_df(spark, [(2, "b")]), tbl)  # v2 references v1's dir too
    commit_overwrite(_df(spark, [(3, "c")]), tbl)
    stats = vacuum(tbl, keep_from=2)
    # v1's manifest dropped, but its data dir survives: v2 references it
    assert stats == {"dirs_removed": 0, "manifests_removed": 1}
    assert _snap(read_version(spark, tbl, 2)) == [(1, "a"), (2, "b")]
    stats2 = vacuum(tbl, keep_from=3)
    assert stats2 == {"dirs_removed": 2, "manifests_removed": 1}
    assert _snap(read_version(spark, tbl)) == [(3, "c")]
    with pytest.raises(MilanAnalysisError, match="version 2 does not exist"):
        read_version(spark, tbl, 2)


def test_named_errors(spark, tbl):
    with pytest.raises(MilanAnalysisError, match="no commits"):
        read_version(spark, tbl)
    commit_append(_df(spark, [(1, "a")]), tbl)
    with pytest.raises(MilanAnalysisError, match="does not exist"):
        read_version(spark, tbl, 7)
    with pytest.raises(MilanAnalysisError, match="beyond the"):
        vacuum(tbl, keep_from=9)


def test_manifest_link_is_the_commit_point(spark, tbl, monkeypatch):
    """Crash protocol: the manifest hard-link IS the commit. Dying before it
    leaves nothing visible; dying after it (hint never advanced) leaves a
    fully-committed version that ``current_version`` finds by probing."""
    import milan_spark.operators.versioned as V

    commit_append(_df(spark, [(1, "a")]), tbl)

    # crash BEFORE the link: manifest tmp write explodes -> nothing visible
    real_link = os.link

    def exploding_link(src, dst):
        raise RuntimeError("crash before manifest link")

    monkeypatch.setattr(V.os, "link", exploding_link)
    with pytest.raises(RuntimeError, match="crash before manifest"):
        commit_append(_df(spark, [(2, "b")]), tbl)
    monkeypatch.undo()
    assert current_version(tbl) == 1
    assert _snap(read_version(spark, tbl)) == [(1, "a")]

    # crash AFTER the link, before the hint: commit is durable and visible
    real_replace = os.replace

    def exploding_replace(src, dst):
        if dst.endswith(V._LATEST):
            raise RuntimeError("crash before hint advance")
        return real_replace(src, dst)

    monkeypatch.setattr(V.os, "link", real_link)
    monkeypatch.setattr(V.os, "replace", exploding_replace)
    # _advance_hint swallows OSError only; simulate death via monkeypatched
    # replace -> the RuntimeError escapes, but the version is committed
    with pytest.raises(RuntimeError, match="crash before hint"):
        commit_append(_df(spark, [(3, "c")]), tbl)
    monkeypatch.undo()
    with open(os.path.join(tbl, "_latest")) as f:
        assert f.read().strip() == "1"  # stale hint...
    assert current_version(tbl) == 2  # ...corrected by probing
    assert _snap(read_version(spark, tbl)) == [(1, "a"), (3, "c")]
    # and the chain continues normally
    commit_append(_df(spark, [(4, "d")]), tbl)
    assert current_version(tbl) == 3


def test_concurrent_commit_loser_raises_and_publishes_nothing(
    spark, tbl, monkeypatch
):
    """Optimistic concurrency: of two writers that both resolved parent=1
    and race for version 2, the second raises MilanConcurrentCommitError,
    its data directory is an unreferenced orphan, and vacuum collects it."""
    import milan_spark.operators.versioned as V
    from milan_spark.errors import MilanConcurrentCommitError

    commit_append(_df(spark, [(1, "a")]), tbl)

    # interleave: writer B's whole commit lands between A's data write and
    # A's manifest claim — the exclusive os.link decides the race
    real_link = os.link
    state = {"fired": False}

    def racing_link(src, dst):
        if not state["fired"]:
            state["fired"] = True
            commit_append(_df(spark, [(9, "B")]), tbl, tag="winner")
        return real_link(src, dst)

    monkeypatch.setattr(V.os, "link", racing_link)
    with pytest.raises(MilanConcurrentCommitError, match="concurrent"):
        commit_append(_df(spark, [(8, "A")]), tbl, tag="loser")
    monkeypatch.undo()
    assert [e["tag"] for e in versions(tbl)] == [None, "winner"]
    assert _snap(read_version(spark, tbl)) == [(1, "a"), (9, "B")]
    # loser's orphan directory exists until vacuum reclaims it
    data_dirs = os.listdir(os.path.join(tbl, "data"))
    assert len(data_dirs) == 3
    stats = vacuum(tbl, keep_from=1)
    assert stats["dirs_removed"] == 1
    assert _snap(read_version(spark, tbl)) == [(1, "a"), (9, "B")]


def test_commit_with_retry_wins_after_race(spark, tbl):
    from milan_spark.errors import MilanConcurrentCommitError
    from milan_spark.operators.versioned import commit_with_retry

    commit_append(_df(spark, [(1, "a")]), tbl)
    attempts = {"n": 0}

    def racy_commit():
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise MilanConcurrentCommitError("simulated race loss")
        return commit_append(_df(spark, [(2, "b")]), tbl)

    assert commit_with_retry(racy_commit) == 2
    assert attempts["n"] == 3
    with pytest.raises(MilanConcurrentCommitError, match="giving up"):
        commit_with_retry(
            lambda: (_ for _ in ()).throw(MilanConcurrentCommitError("x")),
            retries=2,
        )


@pytest.mark.slow
def test_zone_map_pruning_skips_files_result_exact(spark, tbl):
    """Per-file manifest stats prune non-matching files driver-side; the
    read still applies the exact predicate, so results == WHERE semantics."""
    from milan_spark.operators.versioned import prune_files, read_pruned

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("m")
    )
    # range-partitioned write -> tight per-file k ranges
    commit_append(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        tbl, stats_cols=["k", "m"],
    )
    kept, blind, report = prune_files(tbl, [("k", ">=", 900)])
    assert blind == []
    assert report["files_total"] == 8
    assert report["files_skipped"] >= 6
    out, rep = read_pruned(
        spark, tbl, [("k", ">=", 900)], with_report=True
    )
    assert sorted(r["k"] for r in out.collect()) == list(range(900, 1000))
    assert rep["files_skipped"] >= 6
    # between on the clustered key
    out2 = read_pruned(spark, tbl, [("k", "between", (250, 260))])
    assert out2.count() == 11
    # un-clustered column m: zone maps are useless (every file spans 0..6)
    # but the answer is still exact
    assert read_pruned(spark, tbl, [("m", "=", 3)]).count() == 143
    # predicate selecting nothing: empty frame with the table schema
    empty = read_pruned(spark, tbl, [("k", ">", 10_000)])
    assert empty.count() == 0
    assert empty.columns == ["k", "m"]


@pytest.mark.slow
def test_zone_map_pruning_null_and_statless_files(spark, tbl):
    from milan_spark.operators.versioned import prune_files, read_pruned

    # commit 1: stats collected, k all NULL in one file
    allnull = spark.createDataFrame(
        [(None, "x")] * 5, "k long, v string"
    ).coalesce(1)
    commit_append(allnull, tbl, stats_cols=["k"])
    # commit 2: NO stats -> must always be read
    commit_append(_df(spark, [(5, "b")]).coalesce(1), tbl)
    kept, blind, report = prune_files(tbl, [("k", ">=", 0)])
    assert kept == []  # all-NULL file skipped: >= rejects NULL
    assert len(blind) == 1 and report["dirs_without_stats"] == 1
    assert _snap(read_pruned(spark, tbl, [("k", ">=", 0)])) == [(5, "b")]


def test_schema_evolution_gated_and_merge_read(spark, tbl):
    from milan_spark.operators.versioned import commit_append, read_version

    commit_append(_df(spark, [(1, "a")]), tbl)
    wide = spark.createDataFrame([(2, "b", 7.5)], "k long, v string, w double")
    with pytest.raises(MilanAnalysisError, match="added=\\['w'\\]"):
        commit_append(wide, tbl)
    v2 = commit_append(wide, tbl, allow_schema_evolution=True)
    cur = read_version(spark, tbl)
    assert set(cur.columns) == {"k", "v", "w"}
    rows = {r["k"]: (r["v"], r["w"]) for r in cur.collect()}
    assert rows == {1: ("a", None), 2: ("b", 7.5)}
    # time travel to v1 keeps the narrow schema
    assert read_version(spark, tbl, 1).columns == ["k", "v"]
    assert v2 == 2


def test_clustered_compact_tightens_zone_maps(spark, tbl):
    """After a Morton-clustered compaction, per-file zone maps prune on
    BOTH dimensions; before it (insertion-ordered by x only), the y
    predicate prunes nothing."""
    from milan_spark.operators.versioned import prune_files

    n = 32
    grid = spark.range(0, n * n).select(
        (F.col("id") / n).cast("long").alias("x"),
        (F.col("id") % n).alias("y"),
    )
    commit_append(
        grid.repartitionByRange(8, "x").sortWithinPartitions("x"),
        tbl, stats_cols=["x", "y"],
    )
    _, _, before = prune_files(tbl, [("y", "<", 4)])
    assert before["files_skipped"] == 0  # every x-file spans all y
    compact(spark, tbl, cluster_by=("x", "y"), stats_cols=["x", "y"],
            partitions=8)
    _, _, after_y = prune_files(tbl, [("y", "<", 4)])
    _, _, after_x = prune_files(tbl, [("x", "<", 4)])
    assert after_y["files_skipped"] > 0
    assert after_x["files_skipped"] > 0
    # data unchanged by re-clustering
    assert read_version(spark, tbl).count() == n * n


def test_versioned_sink_is_batch_id_idempotent(spark, tbl):
    from milan_spark.operators.versioned import versioned_sink

    write = versioned_sink(tbl)
    write(_df(spark, [(1, "a")]), 0)
    write(_df(spark, [(2, "b")]), 1)
    # replay of batch 0 (restart with a stale checkpoint): no new version
    write(_df(spark, [(1, "a")]), 0)
    assert current_version(tbl) == 2
    assert _snap(read_version(spark, tbl)) == [(1, "a"), (2, "b")]
    tags = [e["tag"] for e in versions(tbl)]
    assert tags == ["batch=0", "batch=1"]


def test_versioned_sink_reruns_without_checkpoint_all_land(spark, tbl, tmp_path):
    """Each run with a private checkpoint is a new query id, so its batch 0
    is no replay of the previous run's: both runs land, each under its own
    ``batch=<queryId>:<batchId>`` tag."""
    from milan_spark.operators.versioned import versioned_sink
    from milan_spark.streaming import await_finished, foreach_batch_sink

    ids = []
    for i, rows in enumerate(([(1, "a")], [(2, "b")])):
        src = str(tmp_path / f"src{i}")
        _df(spark, rows).write.parquet(src)
        sdf = spark.readStream.schema("k long, v string").parquet(src)
        q = foreach_batch_sink(sdf, versioned_sink(tbl))
        await_finished(q, 120)
        ids.append(str(q.id))
    assert ids[0] != ids[1]
    assert [e["tag"] for e in versions(tbl)] == [f"batch={qid}:0" for qid in ids]
    assert _snap(read_version(spark, tbl)) == [(1, "a"), (2, "b")]


def test_versioned_sink_query_id_is_stable_under_a_named_checkpoint(spark, tbl, tmp_path):
    """A restart from a named checkpoint keeps the query id and continues
    the batch ids, so a replay there carries the tag it committed under."""
    from milan_spark.operators.versioned import versioned_sink
    from milan_spark.streaming import await_finished

    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    ids = []
    for i, rows in enumerate(([(1, "a")], [(2, "b")])):
        _df(spark, rows).write.parquet(f"{src}/part{i}")
        sdf = spark.readStream.schema("k long, v string").parquet(f"{src}/*")
        q = (sdf.writeStream.foreachBatch(versioned_sink(tbl))
             .option("checkpointLocation", ck).trigger(availableNow=True).start())
        await_finished(q, 120)
        ids.append(str(q.id))
    assert ids[0] == ids[1]
    assert [e["tag"] for e in versions(tbl)] == [f"batch={ids[0]}:{b}" for b in (0, 1)]
    assert _snap(read_version(spark, tbl)) == [(1, "a"), (2, "b")]


def test_bloom_probe_matches_spark_bits(spark):
    """The driver-side Python probe must stay arithmetic-identical to the
    sketch._bloom_idx column expression for both key dtypes."""
    import milan_spark.operators.versioned as V
    from milan_spark.operators.sketch import _bloom_idx

    m = 8192
    num = spark.createDataFrame([(7,), (123456789,), (0,)], "k long")
    rows = num.select(
        "k",
        _bloom_idx(F.col("k"), 31, m, numeric=True).alias("b31"),
        _bloom_idx(F.col("k"), 131, m, numeric=True).alias("b131"),
    ).collect()
    for r in rows:
        assert V._bloom_probe_bits(r["k"], True, m) == [r["b31"], r["b131"]]
    txt = spark.createDataFrame([("a",), ("doc-42",), ("",)], "k string")
    rows = txt.select(
        "k",
        _bloom_idx(F.col("k"), 31, m, numeric=False).alias("b31"),
        _bloom_idx(F.col("k"), 131, m, numeric=False).alias("b131"),
    ).collect()
    for r in rows:
        assert V._bloom_probe_bits(r["k"], False, m) == [r["b31"], r["b131"]]


def test_bloom_point_lookup_prunes_hash_distributed_files(spark, tbl):
    """On a hash-distributed key every file spans the whole [min, max]
    domain — zone maps prune nothing — but per-file blooms pin a point
    lookup to ~1 file, and the result still equals plain WHERE."""
    from milan_spark.operators.versioned import prune_files, read_pruned

    df = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    commit_append(
        df.repartition(8, "k"),  # hash distribution: zone maps useless
        tbl, stats_cols=["k"], bloom_cols=["k"],
    )
    _, _, zm_only = prune_files(tbl, [("k", ">=", 0)])
    assert zm_only["files_skipped"] == 0
    kept, blind, rep = prune_files(tbl, [("k", "=", 1234)])
    assert blind == []
    # bloom at m=8192 bits for ~500 keys/file: expect most files skipped
    assert rep["files_skipped"] >= 5
    out = read_pruned(spark, tbl, [("k", "=", 1234)])
    assert [(r["k"], r["v"]) for r in out.collect()] == [(1234, 3702)]
    # IN-list lookup unions the per-value probes
    out_in = read_pruned(spark, tbl, [("k", "in", (10, 20, 99999))])
    assert sorted(r["k"] for r in out_in.collect()) == [10, 20]
    # a key outside the domain: bloom almost surely rejects everywhere
    _, _, miss = prune_files(tbl, [("k", "=", 10_000_000)])
    assert miss["files_kept"] <= 1


@pytest.mark.slow
def test_bloom_string_keys_and_all_null_file(spark, tbl):
    from milan_spark.operators.versioned import prune_files, read_pruned

    docs = spark.createDataFrame(
        [(f"doc-{i}", i) for i in range(100)] + [(None, -1)],
        "doc_id string, n long",
    )
    commit_append(docs.coalesce(1), tbl, bloom_cols=["doc_id"])
    # all-NULL second commit: seeded empty bloom rejects equality probes
    commit_append(
        spark.createDataFrame([(None, -2)] * 3, "doc_id string, n long")
        .coalesce(1),
        tbl, bloom_cols=["doc_id"],
    )
    kept, blind, rep = prune_files(tbl, [("doc_id", "=", "doc-7")])
    assert blind == [] and rep["files_kept"] == 1
    assert [r["n"] for r in
            read_pruned(spark, tbl, [("doc_id", "=", "doc-7")]).collect()] == [7]
    _, _, gone = prune_files(tbl, [("doc_id", "=", "nope-123")])
    assert gone["files_kept"] == 0


def test_stream_appends_tails_commits_exactly_once(spark, tbl, tmp_path):
    """Streaming tail: publish_appends + a checkpointed file-source query
    deliver each append commit's rows exactly once across a full query
    rebuild-and-restart; non-append commits refuse to publish."""
    from milan_spark.operators.versioned import (
        publish_appends,
        stream_appends,
    )
    from milan_spark.streaming import await_finished, file_sink

    staging = str(tmp_path / "staging")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    commit_append(_df(spark, [(1, "a"), (2, "b")]), tbl)
    commit_append(_df(spark, [(3, "c")]), tbl)
    rep = publish_appends(tbl, staging)
    assert rep == {"from_version": 0, "to_version": 2, "files": rep["files"]}
    # idempotent: nothing new on a re-run
    assert publish_appends(tbl, staging)["files"] == 0

    def run_once():
        q = file_sink(stream_appends(spark, tbl, staging), out, checkpoint=ckpt)
        await_finished(q, 300)

    run_once()
    assert _snap(spark.read.parquet(out)) == [(1, "a"), (2, "b"), (3, "c")]

    # more commits arrive; the REBUILT query resumes from its checkpoint
    commit_append(_df(spark, [(4, "d")]), tbl)
    publish_appends(tbl, staging)
    run_once()
    assert _snap(spark.read.parquet(out)) == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d"),
    ]

    # a rewrite cannot be tailed: named error, watermark not advanced
    compact(spark, tbl)
    with pytest.raises(MilanAnalysisError, match="append-only"):
        publish_appends(tbl, staging)
    # but an append AFTER the rewrite still refuses (the gap persists)
    commit_append(_df(spark, [(5, "e")]), tbl)
    with pytest.raises(MilanAnalysisError, match="append-only"):
        publish_appends(tbl, staging)


@pytest.mark.slow
def test_maybe_compact_policy(spark, tbl):
    from milan_spark.operators.versioned import maybe_compact, table_stats

    for i in range(5):
        commit_append(_df(spark, [(i, str(i))]).coalesce(1), tbl)
    st = table_stats(tbl)
    assert st["dirs"] == 5 and st["files"] == 5
    # under the dir threshold: no-op
    r = maybe_compact(spark, tbl, max_dirs=16)
    assert r["compacted"] is False and current_version(tbl) == 5
    # over it: one rewrite commit folds the chain
    r2 = maybe_compact(spark, tbl, max_dirs=3)
    assert r2["compacted"] is True and "dirs 5 > 3" in r2["reason"]
    assert table_stats(tbl)["dirs"] == 1
    assert _snap(read_version(spark, tbl)) == [
        (0, "0"), (1, "1"), (2, "2"), (3, "3"), (4, "4"),
    ]
    # tiny-files trigger
    r3 = maybe_compact(spark, tbl, max_dirs=16, min_file_bytes=1 << 30)
    assert r3["compacted"] is True and "mean file size" in r3["reason"]


def test_targeted_delete_rewrites_only_matching_files(spark, tbl):
    """Copy-on-write DELETE bounded by the pruning index: only files whose
    zone maps admit a match are rewritten; the rest stay referenced
    byte-identical. Old versions still see the rows until vacuum."""
    from milan_spark.operators.versioned import (
        commit_delete,
        prune_files,
        read_pruned,
        table_stats,
    )

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("m")
    )
    commit_append(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        tbl, stats_cols=["k"],
    )
    sizes_before = {
        f: os.path.getsize(os.path.join(tbl, "data", f))
        for d in os.listdir(os.path.join(tbl, "data"))
        for f in [f"{d}/{n}" for n in os.listdir(os.path.join(tbl, "data", d))]
        if f.endswith(".parquet")
    }
    rep = commit_delete(spark, tbl, [("k", "between", (100, 220))],
                        stats_cols=["k"])
    assert rep["files_rewritten"] <= 3
    assert rep["files_untouched"] >= 5
    # current snapshot: rows gone, everything else intact
    got = sorted(r["k"] for r in read_version(spark, tbl).collect())
    assert got == [k for k in range(1000) if not (100 <= k <= 220)]
    # time travel: the pre-delete snapshot still has them
    assert read_version(spark, tbl, 1).count() == 1000
    # untouched files byte-identical on disk
    for f, size in sizes_before.items():
        p = os.path.join(tbl, "data", f)
        assert os.path.exists(p) and os.path.getsize(p) == size
    # pruned reads on the new version still exact (stats refreshed)
    kept, _, prep = prune_files(tbl, [("k", "between", (150, 160))])
    assert prep["files_kept"] <= 2
    assert read_pruned(spark, tbl, [("k", "between", (150, 160))]).count() == 0
    assert read_pruned(spark, tbl, [("k", "between", (50, 60))]).count() == 11
    # vacuum erases the old snapshot -> the deleted rows are truly gone
    vacuum(tbl, keep_from=2)
    with pytest.raises(MilanAnalysisError, match="does not exist"):
        read_version(spark, tbl, 1)
    assert read_version(spark, tbl).count() == 1000 - 121


def test_delete_null_rows_survive_and_noop_delete(spark, tbl):
    from milan_spark.operators.versioned import commit_delete

    docs = spark.createDataFrame(
        [(1, "a"), (None, "n1"), (2, "b"), (None, "n2")],
        "k long, v string",
    )
    commit_append(docs.coalesce(1), tbl, stats_cols=["k"])
    rep = commit_delete(spark, tbl, [("k", "=", 2)])
    assert rep["files_rewritten"] == 1
    left = sorted(
        [(r["k"], r["v"]) for r in read_version(spark, tbl).collect()],
        key=str,
    )
    # NULL-key rows do NOT match an equality delete (SQL DELETE semantics)
    assert (None, "n1") in left and (None, "n2") in left and (1, "a") in left
    assert (2, "b") not in left
    # delete with no possible match: zero rewrites, no new version
    v_before = current_version(tbl)
    rep2 = commit_delete(spark, tbl, [("k", "=", 999)])
    assert rep2["files_rewritten"] == 0
    assert current_version(tbl) == v_before


def test_delete_blocks_append_only_consumers(spark, tbl, tmp_path):
    from milan_spark.operators.materialize import refresh_agg_view
    from milan_spark.operators.versioned import commit_delete, publish_appends

    commit_append(_df(spark, [(1, "a"), (2, "b")]), tbl)
    view = str(tmp_path / "view")
    refresh_agg_view(spark, tbl, view, ["k"], {"n": ("count", "*")})
    commit_delete(spark, tbl, [("k", "=", 1)])
    commit_append(_df(spark, [(3, "c")]), tbl)
    with pytest.raises(MilanAnalysisError, match="op='delete'"):
        refresh_agg_view(spark, tbl, view, ["k"], {"n": ("count", "*")})
    with pytest.raises(MilanAnalysisError, match="append-only"):
        publish_appends(tbl, str(tmp_path / "staging"))


def test_targeted_update_rewrites_only_matching_files(spark, tbl):
    from milan_spark.operators.versioned import commit_update

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    commit_append(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        tbl, stats_cols=["k"],
    )
    rep = commit_update(
        spark, tbl, [("k", "between", (500, 540))],
        {"v": F.col("v") + 1_000_000},
    )
    assert rep["files_rewritten"] <= 2 and rep["files_untouched"] >= 6
    rows = {r["k"]: r["v"] for r in read_version(spark, tbl).collect()}
    assert len(rows) == 1000
    for k in range(1000):
        expect = k * 2 + (1_000_000 if 500 <= k <= 540 else 0)
        assert rows[k] == expect
    # time travel: pre-update values intact
    old = {r["k"]: r["v"] for r in read_version(spark, tbl, 1).collect()}
    assert old[520] == 1040
    # bad assignment target: named error, nothing committed
    from milan_spark.operators.versioned import current_version as cv
    v = cv(tbl)
    with pytest.raises(MilanAnalysisError, match="nope.*not in table"):
        commit_update(spark, tbl, [("k", "=", 1)], {"nope": F.lit(0)})
    assert cv(tbl) == v


@pytest.mark.slow
def test_clone_table_zero_copy_independent_evolution(spark, tbl, tmp_path):
    from milan_spark.operators.versioned import (
        clone_table,
        commit_delete,
        prune_files,
        read_pruned,
    )

    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("m")
    )
    commit_append(
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        tbl, stats_cols=["k"],
    )
    dst = str(tmp_path / "clone")
    assert clone_table(tbl, dst) == 1
    # zero-copy: cloned files share inodes with the source
    d = os.path.join(tbl, "data")
    some = next(
        os.path.join(d, sub, f)
        for sub in os.listdir(d)
        for f in os.listdir(os.path.join(d, sub))
        if f.endswith(".parquet")
    )
    assert os.stat(some).st_nlink >= 2
    # stats carried over: pruning works immediately on the clone
    _, _, rep = prune_files(dst, [("k", ">=", 150)])
    assert rep["files_skipped"] >= 2
    assert read_pruned(spark, dst, [("k", ">=", 150)]).count() == 50
    # clone evolves independently: delete there, source untouched
    commit_delete(spark, dst, [("k", "between", (0, 99))])
    assert read_version(spark, dst).count() == 100
    assert read_version(spark, tbl).count() == 200
    # and vice versa
    commit_append(_df(spark, [(1000, "z")]).selectExpr(
        "k", "CAST(0 AS LONG) AS m"), tbl, allow_schema_evolution=True)
    assert read_version(spark, dst).count() == 100
    # cloning onto an existing table: named error
    with pytest.raises(MilanAnalysisError, match="already a versioned"):
        clone_table(tbl, dst)


def test_stream_dsl_versioned_roundtrip(spark, tbl):
    from milan_spark.sources import versioned_source
    from milan_spark.stream import Stream

    s = Stream(_df(spark, [(1, "a"), (2, "b")]))
    assert s.write_versioned(tbl, stats_cols=["k"]) == 1
    assert Stream(_df(spark, [(3, "c")])).write_versioned(tbl) == 2
    assert _snap(versioned_source(spark, tbl)) == [(1, "a"), (2, "b"), (3, "c")]
    assert _snap(versioned_source(spark, tbl, version=1)) == [(1, "a"), (2, "b")]
    assert _snap(versioned_source(spark, tbl, where=[("k", ">=", 2)])) == [
        (2, "b"), (3, "c"),
    ]
    with pytest.raises(MilanAnalysisError, match="append.*overwrite"):
        Stream(_df(spark, [(4, "d")])).write_versioned(tbl, mode="merge")


def test_rollback_restores_snapshot_metadata_only(spark, tbl):
    from milan_spark.operators.versioned import prune_files, rollback

    commit_append(
        _df(spark, [(1, "a"), (2, "b")]).coalesce(1), tbl, stats_cols=["k"]
    )
    commit_overwrite(_df(spark, [(9, "oops")]), tbl)  # the bad deploy
    n_data_dirs = len(os.listdir(os.path.join(tbl, "data")))
    v = rollback(tbl, 1)
    assert v == 3
    # nothing was rewritten: no new data directory exists
    assert len(os.listdir(os.path.join(tbl, "data"))) == n_data_dirs
    assert _snap(read_version(spark, tbl)) == [(1, "a"), (2, "b")]
    # carried stats still prune on the restored head
    _, _, rep = prune_files(tbl, [("k", ">=", 1)])
    assert rep["files_total"] == 1
    # the bad version stays inspectable
    assert _snap(read_version(spark, tbl, 2)) == [(9, "oops")]
    assert versions(tbl)[-1]["op"] == "rollback"
    # bad targets: named errors
    with pytest.raises(MilanAnalysisError, match="not in \\[1, 3\\]"):
        rollback(tbl, 7)


@pytest.mark.slow
def test_count_where_metadata_pushdown(spark, tbl):
    from milan_spark.operators.versioned import count_where

    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    commit_append(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        tbl, stats_cols=["k"],
    )
    # no predicate: pure metadata count, zero files opened
    r = count_where(spark, tbl)
    assert r == {"count": 1000, "files_metadata_only": 8,
                 "files_scanned": 0, "files_skipped": 0, "version": 1}
    # clustered range: interior files counted from metadata, boundary files
    # scanned, disjoint files skipped — and the count is exact
    r2 = count_where(spark, tbl, [("k", "between", (100, 400))])
    assert r2["count"] == 301
    assert r2["files_metadata_only"] >= 1
    assert r2["files_scanned"] <= 2
    assert r2["files_skipped"] >= 3
    # an all-NULL-rejecting check: file with NULLs is never metadata-counted
    commit_append(
        spark.createDataFrame([(None,), (5,)], "k long").coalesce(1),
        tbl, stats_cols=["k"],
    )
    r3 = count_where(spark, tbl, [("k", ">=", 0)])
    assert r3["count"] == 1001
    assert r3["files_scanned"] >= 1  # the nullable file had to be opened
