"""Versioned table layout: snapshot isolation + time travel over plain
parquet — the lakehouse commit pattern (immutable data files, an
atomically linked manifest) without a table-format dependency. No reference
analog (Milan's sinks are fire-and-forget, ``FileDataSink``); this is the
sink discipline a long-lived 100 TB pipeline table needs: writers never
disturb readers, any historical snapshot stays reproducible, and cleanup is
an explicit, bounded operation.

Layout under ``path``:

  _versions/v<8-digit>.json   immutable manifest per commit: the list of
                              data directories visible at that version,
                              parent version, op kind, caller tag, the
                              commit's schema, and (opt-in) per-file
                              column min/max/null statistics
  _latest                     one line, a version-number HINT kept close to
                              the true head — a cache that saves manifest
                              probes, never the source of truth
  data/<8-digit>-<token>/     immutable parquet directory written by
                              exactly one commit ATTEMPT (the token makes
                              attempts collision-free; a losing attempt's
                              directory is an orphan ``vacuum`` collects)

Commit protocol — the MANIFEST LINK IS THE COMMIT POINT: (1) write the new
data directory under a unique name, (2) write the finished manifest to a
temp name and hard-link it into place — ``os.link`` is atomic AND
exclusive, so of two racing writers exactly one owns version v and the
other raises :class:`MilanConcurrentCommitError` having published nothing
(optimistic concurrency, first-writer-wins; the plain-rename protocol this
replaces silently clobbered the loser's manifest), (3) advance the
`_latest` hint (best-effort, forward-only). ``current_version`` reads the
hint then probes forward over contiguous manifests, so a crash anywhere
leaves NO undecided state: before (2) only orphan files exist; after (2)
the commit is durable and visible regardless of the hint — the same
commit-file-creation-is-the-commit rule every log-structured table format
uses. A reader resolves its version once, then touches only immutable
objects — a concurrent commit can never tear its snapshot (snapshot
isolation).

On a real object store the ``os.link`` claim becomes a
create-if-absent conditional PUT — the identical first-writer-wins shape —
and the hint an ordinary overwrite PUT, safe because it is only a cache.

Scale notes: an ``append`` commit is O(new data) — history accumulates as
union-read directories until ``compact`` (one rewrite commit) folds them;
``merge`` is a whole-row upsert (``base left_anti updates ∪ updates``)
rewritten as one directory, O(table) per commit. Manifests list
directories plus (with ``stats_cols``) one stats row per FILE — O(files
since compaction), the Iceberg manifest scale story: the metadata a scan
needs to prune 100 TB down to the matching files is itself a small table,
and ``compact`` re-bounds it.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, MapType, StructField, StructType

from milan_spark.errors import (
    MilanAnalysisError, MilanConcurrentCommitError, MilanDuplicateKeyError)

_MANIFEST_DIR = "_versions"
_LATEST = "_latest"
_DATA = "data"


def _vname(v: int) -> str:
    return f"{v:08d}"


def _manifest_path(path: str, v: int) -> str:
    return os.path.join(path, _MANIFEST_DIR, f"v{_vname(v)}.json")


def _read_manifest(path: str, v: int) -> dict:
    try:
        with open(_manifest_path(path, v)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise MilanAnalysisError(
            f"versioned table {path}: version {v} does not exist"
        ) from None


def current_version(path: str) -> int:
    """The latest committed version (0 = empty table): the `_latest` hint,
    corrected forward over any contiguous manifests a writer committed but
    didn't get to advertise (crash between link and hint). Usually zero
    extra probes; each probe is one metadata existence check."""
    try:
        with open(os.path.join(path, _LATEST)) as f:
            v = int(f.read().strip())
    except FileNotFoundError:
        v = 0
    while os.path.exists(_manifest_path(path, v + 1)):
        v += 1
    return v


def versions(path: str) -> list[dict]:
    """All committed manifests in version order (op, tag, dir count)."""
    mdir = os.path.join(path, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in sorted(os.listdir(mdir)):
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                m = json.load(f)
            out.append(
                {"version": m["version"], "op": m["op"], "tag": m.get("tag"),
                 "n_dirs": len(m["dirs"])}
            )
    return out


def _link_or_copy(src: str, dst: str) -> None:
    # hard link when possible (zero-copy); fall back to a copy across
    # filesystems (EXDEV) — semantics identical, cost is the bytes
    try:
        os.link(src, dst)
    except OSError as e:
        import errno

        if e.errno != errno.EXDEV:
            raise
        shutil.copy2(src, dst)


def _advance_hint(path: str, v: int) -> None:
    # best-effort, forward-only cache update; losing a race (or the write
    # itself) only costs later readers a probe, never correctness
    head = max(v, current_version(path))
    lpath = os.path.join(path, _LATEST)
    tmp = lpath + f".tmp-{uuid.uuid4().hex[:8]}"
    try:
        with open(tmp, "w") as f:
            f.write(str(head))
        os.replace(tmp, lpath)
    except OSError:
        pass


def _stat_kind(typ) -> str | None:
    import pyarrow as pa

    if pa.types.is_date(typ):
        return "date"
    if pa.types.is_timestamp(typ):
        return "ts"
    if (pa.types.is_integer(typ) or pa.types.is_floating(typ)
            or pa.types.is_decimal(typ)):
        return "num"
    if pa.types.is_string(typ) or pa.types.is_large_string(typ):
        return "str"
    return None


def _enc_stat(v, kind: str):
    if v is None:
        return None
    if kind in ("date", "ts"):
        if isinstance(v, _dt.datetime):
            return v.replace(tzinfo=None).isoformat()
        if isinstance(v, _dt.date):
            return v.isoformat()
        return str(v)
    if kind == "num":
        return float(v) if not isinstance(v, (int, float)) else v
    return str(v)


def _collect_stats(base: str, data_rel: str, cols: list[str]) -> dict:
    """Per-FILE min/max/null-count for ``cols``, read from parquet footers
    of the just-written directory — O(new files) driver-local metadata
    reads, the write-side stats collection every table format does. Parquet
    truncated string bounds stay valid bounds (min is floored, max is
    bumped), so pruning against them is safe, never exact-required."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    droot = os.path.join(base, data_rel)
    for name in sorted(os.listdir(droot)):
        if not name.endswith(".parquet"):
            continue
        pf = pq.ParquetFile(os.path.join(droot, name))
        md, schema = pf.metadata, pf.schema_arrow
        idx = {f: i for i, f in enumerate(schema.names)}
        # file row count from the footer: lets COUNT-shaped queries answer
        # from the manifest alone ("__rows" cannot collide — not a legal
        # unquoted column name, and stat cols come from the schema)
        fstats: dict[str, dict] = {"__rows": md.num_rows}
        for c in cols:
            if c not in idx:
                continue
            kind = _stat_kind(schema.field(c).type)
            if kind is None:
                continue
            mn = mx = None
            nulls = rows = 0
            ok = True
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(idx[c])
                rows += md.row_group(rg).num_rows
                st = col.statistics
                if st is None or not st.has_null_count:
                    ok = False
                    break
                nulls += st.null_count
                if st.has_min_max:
                    if mn is None or st.min < mn:
                        mn = st.min
                    if mx is None or st.max > mx:
                        mx = st.max
                elif st.null_count < md.row_group(rg).num_rows:
                    ok = False  # values exist but no bounds -> can't prune
                    break
            if ok:
                fstats[c] = {
                    "kind": kind,
                    "min": _enc_stat(mn, kind),
                    "max": _enc_stat(mx, kind),
                    "nulls": nulls,
                    "rows": rows,
                }
        out[f"{data_rel}/{name}"] = fstats
    return out


_P31 = 2_147_483_647
_BLOOM_SCRAMBLE = {31: 2_654_435_761, 131: 2_246_822_519}
# Java-regex "." (used by char_fold_hash's char split) skips line terminators
_LINE_TERMS = frozenset("\n\r\x85\u2028\u2029")
_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _py_fold(s: str, base: int) -> int:
    h = 0
    for ch in s:
        if ch in _LINE_TERMS:
            continue
        h = (h * base + ord(ch)) % _P31
    return h


def _bloom_probe_bits(value, numeric: bool, m_bits: int) -> list[int]:
    """Driver-side twin of sketch._bloom_idx: the two bit positions a key
    sets, computed in pure Python so a point lookup consults the manifest
    without starting a Spark job. Must stay arithmetic-identical to the
    column expression (pytest pins them against each other)."""
    if numeric:
        return [
            (int(value) % _P31) * _BLOOM_SCRAMBLE[b] % _P31 % m_bits
            for b in (31, 131)
        ]
    s = str(value)
    return [
        _py_fold(s, b) * _BLOOM_SCRAMBLE[31] % _P31 % m_bits for b in (31, 131)
    ]


def _bloom_has(bloom: dict, value) -> bool:
    words = bloom["words"]
    for i in _bloom_probe_bits(value, bloom["numeric"], bloom["m"]):
        w = words.get(str(i >> 5), 0)
        if not (w >> (i % 32)) & 1:
            return False
    return True


def _collect_blooms(
    spark: SparkSession, base: str, data_rel: str, cols: list[str],
    m_bits: int,
) -> dict:
    """Per-FILE Bloom filters for point-lookup pruning where zone maps are
    blind (high-cardinality keys whose per-file [min, max] spans the whole
    domain — hash-distributed ids, content hashes). One narrow scan of the
    JUST-WRITTEN directory grouped by input_file_name; the bit_or aggregate
    is map-side combinable and the collect is bounded by files × m/32
    words, metadata-scale by construction. Uses the portable two-fold hash
    of sketch.bloom_build, so filters are bit-identical across engines and
    re-derivable in SQL."""
    from milan_spark.operators.sketch import _bloom_idx

    df = spark.read.parquet(os.path.join(base, data_rel))
    dtypes = dict(df.dtypes)
    out: dict[str, dict] = {}
    present = [c for c in cols if c in dtypes]
    # seed an empty filter per (file, col): a file whose keys are all NULL
    # gets no aggregate row, and its empty bloom correctly rejects every
    # equality probe instead of falling back to "no index, must read"
    for name in sorted(os.listdir(os.path.join(base, data_rel))):
        if name.endswith(".parquet"):
            for c in present:
                numeric = dtypes[c] in _INTEGRAL
                if numeric or dtypes[c] == "string":
                    out.setdefault(f"{data_rel}/{name}", {})[c] = {
                        "m": m_bits, "numeric": numeric, "words": {}
                    }
    for col in present:
        numeric = dtypes[col] in _INTEGRAL
        if not numeric and dtypes[col] != "string":
            raise MilanAnalysisError(
                f"bloom_cols: column {col!r} has type {dtypes[col]}; per-file "
                f"blooms support integral and string keys"
            )
        k = F.col(col) if numeric else F.col(col).cast("string")
        idxs = (
            df.select(F.input_file_name().alias("__f"), k.alias("__k"))
            .where(F.col("__k").isNotNull())
            .select(
                "__f",
                F.explode(
                    F.array(
                        _bloom_idx(F.col("__k"), 31, m_bits, numeric=numeric),
                        _bloom_idx(F.col("__k"), 131, m_bits, numeric=numeric),
                    )
                ).alias("__idx"),
            )
        )
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (F.col("__idx") % 32).cast("int")
        )
        words = idxs.groupBy(
            "__f", F.shiftright("__idx", 5).cast("int").alias("w")
        ).agg(F.bit_or(bit).alias("bw"))
        for row in words.collect():
            fname = row["__f"].rsplit("/", 1)[-1]
            frel = f"{data_rel}/{fname}"
            slot = out.setdefault(frel, {}).setdefault(
                col, {"m": m_bits, "numeric": numeric, "words": {}}
            )
            prev = slot["words"].get(str(row["w"]), 0)
            slot["words"][str(row["w"])] = prev | row["bw"]
    return out


def _schema_fields(schema_json: str) -> dict[str, str]:
    return {
        f["name"]: json.dumps(f["type"], sort_keys=True)
        for f in json.loads(schema_json)["fields"]
    }


def _commit(
    path: str,
    df: DataFrame,
    *,
    dirs_from_parent,
    op: str,
    tag,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 8192,
    allow_schema_evolution: bool = False,
    exclude_files: list[str] | None = None,
) -> int:
    parent = current_version(path)
    if not parent and os.path.isdir(path) and any(
            n.endswith(".parquet") for n in os.listdir(path)):
        # a plain-parquet table (an upsert sink's before it was versioned):
        # committing would hide its rows behind an empty parent
        raise MilanAnalysisError(
            f"versioned table {path}: holds plain parquet files but no "
            f"commits; commit_overwrite them into a fresh path first"
        )
    os.makedirs(os.path.join(path, _MANIFEST_DIR), exist_ok=True)
    os.makedirs(os.path.join(path, _DATA), exist_ok=True)
    v = parent + 1
    schema_json = df.schema.json()
    dir_schemas: dict[str, str] = {}
    stats: dict[str, dict] = {}
    if parent:
        pm = _read_manifest(path, parent)
        if op == "append" and "schema" in pm:
            old, new = _schema_fields(pm["schema"]), _schema_fields(schema_json)
            if old != new and not allow_schema_evolution:
                added = sorted(set(new) - set(old))
                dropped = sorted(set(old) - set(new))
                changed = sorted(
                    k for k in set(old) & set(new) if old[k] != new[k]
                )
                raise MilanAnalysisError(
                    f"versioned table {path}: append schema differs from "
                    f"version {parent} (added={added}, missing={dropped}, "
                    f"retyped={changed}); pass allow_schema_evolution=True "
                    f"to evolve the table"
                )
        dir_schemas = dict(pm.get("dir_schemas", {}))
        stats = dict(pm.get("stats", {}))
        blooms = dict(pm.get("blooms", {}))
    else:
        blooms = {}
    # unique per-ATTEMPT directory: racing commits never touch each other's
    # files; the loser's directory is an orphan vacuum() collects
    data_rel = f"{_DATA}/{_vname(v)}-{uuid.uuid4().hex[:8]}"
    # (1) immutable data directory
    df.write.mode("errorifexists").parquet(os.path.join(path, data_rel))
    inherited = list(dirs_from_parent(parent))
    dirs = inherited + [data_rel]
    dir_schemas = {d: s for d, s in dir_schemas.items() if d in inherited}
    dir_schemas[data_rel] = schema_json
    excl = set(exclude_files or [])
    if parent and exclude_files is None:
        # plain commits inherit the parent's exclusions for inherited dirs
        excl = {f for f in pm.get("exclude_files", [])
                if f.rsplit("/", 1)[0] in inherited}
    stats = {f: s for f, s in stats.items()
             if f.rsplit("/", 1)[0] in inherited and f not in excl}
    blooms = {f: b for f, b in blooms.items()
              if f.rsplit("/", 1)[0] in inherited and f not in excl}
    if stats_cols:
        stats.update(_collect_stats(path, data_rel, list(stats_cols)))
    if bloom_cols:
        blooms.update(_collect_blooms(
            df.sparkSession, path, data_rel, list(bloom_cols), bloom_bits
        ))
    manifest = {
        "version": v, "parent": parent, "op": op, "tag": tag, "dirs": dirs,
        "schema": schema_json, "dir_schemas": dir_schemas, "stats": stats,
        "blooms": blooms, "exclude_files": sorted(excl),
    }
    # (2) the commit point, (3) the hint
    return _link_manifest(
        path, manifest,
        f"versioned table {path}: version {v} was committed by a concurrent "
        f"writer; this attempt published nothing, its data directory "
        f"{data_rel} is an orphan for vacuum(). Re-derive from the new "
        f"snapshot and retry (commit_with_retry).",
    )


def _link_manifest(path: str, manifest: dict, conflict: str) -> int:
    """THE COMMIT POINT of every commit: hard-link the finished manifest
    into place — atomic AND exclusive, so exactly one racing writer owns its
    version and the others raise :class:`MilanConcurrentCommitError` with
    the message ``conflict`` — then advertise it (the hint is a cache,
    ``current_version`` probes past it)."""
    v = manifest["version"]
    mpath = _manifest_path(path, v)
    tmp = mpath + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    try:
        os.link(tmp, mpath)
    except FileExistsError:
        raise MilanConcurrentCommitError(conflict) from None
    finally:
        os.unlink(tmp)
    _advance_hint(path, v)
    return v


def commit_with_retry(fn, *, retries: int = 5):
    """Run ``fn()`` (a zero-arg closure performing ONE commit, re-deriving
    its input from the CURRENT snapshot each call — mandatory for
    merge/compact, whose payload depends on the base) until it wins the
    commit race."""
    last = None
    for _ in range(retries):
        try:
            return fn()
        except MilanConcurrentCommitError as e:
            last = e
    raise MilanConcurrentCommitError(
        f"lost {retries} commit races; giving up"
    ) from last


def commit_append(
    df: DataFrame,
    path: str,
    *,
    tag: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 8192,
    allow_schema_evolution: bool = False,
) -> int:
    """Append commit: the new version sees the parent's directories plus one
    new one. O(new data) write; history folds at the next ``compact``.
    ``stats_cols`` opts into per-file zone maps (footer min/max into the
    manifest); ``bloom_cols`` into per-file Bloom filters for point-lookup
    pruning on keys zone maps can't order; a schema differing from the
    parent requires ``allow_schema_evolution=True`` and widens reads via
    mergeSchema."""
    return _commit(
        path, df,
        dirs_from_parent=lambda p: _read_manifest(path, p)["dirs"] if p else [],
        op="append", tag=tag, stats_cols=stats_cols, bloom_cols=bloom_cols,
        bloom_bits=bloom_bits,
        allow_schema_evolution=allow_schema_evolution,
    )


def commit_overwrite(
    df: DataFrame, path: str, *, tag: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 8192,
) -> int:
    """Overwrite commit: the new version sees ONLY the new directory — the
    old versions keep their directories and stay readable (time travel)."""
    return _commit(
        path, df, dirs_from_parent=lambda p: [], op="overwrite", tag=tag,
        stats_cols=stats_cols, bloom_cols=bloom_cols, bloom_bits=bloom_bits,
    )


def commit_merge(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    *,
    seq_col: str | None = None,
    tag: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 8192,
) -> int:
    """MERGE commit, rewritten as one directory: a whole-row upsert of
    ``updates`` into the current snapshot. A matched row is replaced by its
    update (a NULL in the update is written), unmatched updates insert, and
    the other rows stay; keys match null-safely. Several updates for one
    key resolve by ``seq_col`` (greatest wins); without it they raise
    :class:`MilanDuplicateKeyError` rather than pick one arbitrarily. On a
    table with no commits the updates become version 1."""
    keys = list(key_cols)
    if seq_col is not None:
        updates = (
            updates.groupBy(*keys)
            .agg(F.max_by(F.struct(*updates.columns), F.col(seq_col)).alias("__r"))
            .select("__r.*")
        )
    else:
        dup = (
            updates.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
            .where("__n > 1").limit(1).collect()
        )
        if dup:
            key = {k: dup[0][k] for k in keys}
            raise MilanDuplicateKeyError(
                f"merge into {path}: key {key} has {dup[0]['__n']} rows in one "
                f"batch; pass seq_col to keep the greatest"
            )
    merged = updates
    if current_version(path):
        from functools import reduce
        from operator import and_

        cond = reduce(and_, [F.col(f"__b.{k}").eqNullSafe(F.col(f"__u.{k}"))
                             for k in keys])
        merged = (
            read_version(spark, path).alias("__b")
            .join(updates.alias("__u"), cond, "left_anti")
            .unionByName(updates)
        )
    return _commit(
        path, merged, dirs_from_parent=lambda p: [], op="merge",
        tag=tag, stats_cols=stats_cols, bloom_cols=bloom_cols,
        bloom_bits=bloom_bits,
    )


def compact(
    spark: SparkSession,
    path: str,
    *,
    tag: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 8192,
    cluster_by: tuple[str, ...] | list[str] | None = None,
    partitions: int = 8,
) -> int:
    """Fold the current snapshot's directory list into ONE directory (an
    overwrite commit of the current read) — the maintenance pass that keeps
    append chains AND manifests bounded; old versions stay readable until
    ``vacuum``. ``cluster_by=(a,)`` range-sorts on one key; ``(a, b)``
    interleaves Morton bits (``layout.z_value``) so per-file zone maps stay
    tight on BOTH keys — compaction is exactly when re-clustering is free,
    since the data is being rewritten anyway."""
    df = read_version(spark, path)
    if cluster_by:
        cluster_by = tuple(cluster_by)
        if len(cluster_by) == 1:
            df = df.repartitionByRange(partitions, cluster_by[0]) \
                   .sortWithinPartitions(cluster_by[0])
        elif len(cluster_by) == 2:
            from milan_spark.operators.layout import z_value

            df = (
                df.withColumn("__z", z_value(cluster_by[0], cluster_by[1]))
                .repartitionByRange(partitions, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            raise MilanAnalysisError(
                f"compact: cluster_by takes 1 or 2 columns, got "
                f"{list(cluster_by)}"
            )
    return _commit(
        path, df, dirs_from_parent=lambda p: [], op="compact", tag=tag,
        stats_cols=stats_cols, bloom_cols=bloom_cols, bloom_bits=bloom_bits,
    )


def _expand_dir(path: str, d: str, excl: set) -> list[str]:
    droot = os.path.join(path, d)
    return [
        os.path.join(droot, n)
        for n in sorted(os.listdir(droot))
        if n.endswith(".parquet") and f"{d}/{n}" not in excl
    ]


def _snapshot_paths(path: str, m: dict) -> list[str]:
    """Read paths for a manifest's snapshot: whole directories, except
    those with excluded files (targeted-delete leftovers), which expand to
    their surviving files. Only affected dirs pay a listing."""
    excl = set(m.get("exclude_files", []))
    excl_dirs = {f.rsplit("/", 1)[0] for f in excl}
    out: list[str] = []
    for d in m["dirs"]:
        if d in excl_dirs:
            out.extend(_expand_dir(path, d, excl))
        else:
            out.append(os.path.join(path, d))
    return out


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: resolve the version ONCE (default: `_latest`), then a
    plain union-read of its immutable directories — concurrent commits
    cannot tear it. ``version=N`` is time travel. The schema comes from the
    manifest (:func:`_snapshot_reader`), so the read runs no inference job
    unless the snapshot spans schemas."""
    v = current_version(path) if version is None else int(version)
    if v == 0:
        raise MilanAnalysisError(f"versioned table {path}: no commits yet")
    m = _read_manifest(path, v)
    return _snapshot_reader(spark, m).parquet(*_snapshot_paths(path, m))


def _nullable(t):
    """``t`` as a parquet read returns it: Spark reads every field, array
    element and map value of a file source as nullable."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True, f.metadata)
                           for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _snapshot_reader(spark: SparkSession, m: dict):
    """A reader for manifest ``m``'s files: pinned to the schema the
    manifest records when every directory was written with one schema (no
    inference job), with mergeSchema when they span several (an evolved
    table; it costs a footer read per file), else inferring."""
    dir_schemas = m.get("dir_schemas", {})
    schemas = {dir_schemas.get(d) for d in m["dirs"]}
    if len(schemas) > 1:
        return spark.read.option("mergeSchema", "true")
    if len(schemas) == 1 and None not in schemas:
        return spark.read.schema(_nullable(StructType.fromJson(json.loads(schemas.pop()))))
    return spark.read


_PRUNE_OPS = ("=", "<", "<=", ">", ">=", "between", "in")


def _norm(value, kind: str):
    if kind in ("date", "ts"):
        if isinstance(value, _dt.datetime):
            return value.replace(tzinfo=None).isoformat()
        if isinstance(value, _dt.date):
            return value.isoformat()
        return str(value)
    if kind == "num":
        return value
    return str(value)


def _range_hit(st: dict, op: str, value) -> bool:
    mn, mx = st["min"], st["max"]
    k = st["kind"]
    if op == "between":
        lo, hi = _norm(value[0], k), _norm(value[1], k)
        return not (mx < lo or mn > hi)
    val = _norm(value, k)
    if op == "=":
        return mn <= val <= mx
    if op == "<":
        return mn < val
    if op == "<=":
        return mn <= val
    if op == ">":
        return mx > val
    return mx >= val  # ">="


def _file_survives(fstats: dict, fblooms: dict, predicates) -> bool:
    for col, op, value in predicates:
        st = fstats.get(col)
        if st is not None:
            mn, mx = st["min"], st["max"]
            if mn is None and mx is None:
                if st["rows"] > 0 and st["nulls"] == st["rows"]:
                    return False  # all-NULL file; every op rejects NULL
            elif op == "in":
                if not any(_range_hit(st, "=", v) for v in value):
                    return False
            elif not _range_hit(st, op, value):
                return False
        # Bloom pruning applies to equality shapes only; it composes with
        # zone maps (a file must pass BOTH to be read)
        bl = fblooms.get(col)
        if bl is not None:
            if op == "=" and not _bloom_has(bl, value):
                return False
            if op == "in" and not any(_bloom_has(bl, v) for v in value):
                return False
    return True


def prune_files(
    path: str, predicates, version: int | None = None
) -> tuple[list[str], list[str], dict]:
    """Manifest-only data skipping: evaluate conjunctive ``predicates``
    (``[(col, op, value)]``, op in =, <, <=, >, >=, between) against each
    file's recorded zone map. Returns (surviving files, stats-less dirs
    that must be read whole, report). Pure driver-side metadata — no Spark
    job, no file opened; this is the step that turns a 100 TB scan into
    reading only the files whose [min, max] can hold a match. NULL
    semantics: every supported op rejects NULL, so all-NULL files are
    skipped; files lacking stats are always kept (pruning is a safe
    superset, never exact-required)."""
    for _, op, _v in predicates:
        if op not in _PRUNE_OPS:
            raise MilanAnalysisError(
                f"prune_files: unsupported op {op!r}; use one of {_PRUNE_OPS}"
            )
    v = current_version(path) if version is None else int(version)
    if v == 0:
        raise MilanAnalysisError(f"versioned table {path}: no commits yet")
    m = _read_manifest(path, v)
    stats = m.get("stats", {})
    blooms = m.get("blooms", {})
    known = sorted(set(stats) | set(blooms))
    covered_dirs = {f.rsplit("/", 1)[0] for f in known}
    kept = [
        f for f in known
        if _file_survives(stats.get(f, {}), blooms.get(f, {}), predicates)
    ]
    blind_dirs = [d for d in m["dirs"] if d not in covered_dirs]
    report = {
        "files_total": len(known),
        "files_kept": len(kept),
        "files_skipped": len(known) - len(kept),
        "dirs_without_stats": len(blind_dirs),
        "version": v,
    }
    return kept, blind_dirs, report


def _predicate_column(predicates) -> Column:
    cond = F.lit(True)
    for col, op, value in predicates:
        c = F.col(col)
        if op == "between":
            cond = cond & c.between(F.lit(value[0]), F.lit(value[1]))
        elif op == "in":
            cond = cond & c.isin(list(value))
        elif op == "=":
            cond = cond & (c == F.lit(value))
        elif op == "<":
            cond = cond & (c < F.lit(value))
        elif op == "<=":
            cond = cond & (c <= F.lit(value))
        elif op == ">":
            cond = cond & (c > F.lit(value))
        else:
            cond = cond & (c >= F.lit(value))
    return cond


def read_pruned(
    spark: SparkSession,
    path: str,
    predicates,
    version: int | None = None,
    with_report: bool = False,
):
    """Predicate read over a versioned table: manifest zone maps drop
    non-matching FILES before Spark ever lists them, then the exact
    predicate is applied as a real filter (so the result is precisely
    ``WHERE`` semantics — pruning only shrinks the scan, never the answer).
    Row-group stats inside the surviving files still prune further, for
    free, because the same bounds exist in their footers."""
    kept, blind_dirs, report = prune_files(path, predicates, version)
    m = _read_manifest(
        path, current_version(path) if version is None else int(version)
    )
    excl = set(m.get("exclude_files", []))
    paths = [os.path.join(path, p) for p in kept]
    for d in blind_dirs:
        paths.extend(_expand_dir(path, d, excl))
    if not paths:
        df = spark.createDataFrame(
            [], StructType.fromJson(json.loads(m["schema"]))
        )
    else:
        df = _snapshot_reader(spark, m).parquet(*paths)
    df = df.filter(_predicate_column(predicates))
    return (df, report) if with_report else df


def vacuum(path: str, *, keep_from: int) -> dict:
    """Delete manifests below ``keep_from`` and every data directory no kept
    manifest references — including orphans of crashed or race-losing
    commit attempts (their unique directory names are referenced by no
    manifest). Explicit and bounded — nothing expires implicitly.
    Returns {"dirs_removed", "manifests_removed"}."""
    cur = current_version(path)
    if keep_from > cur:
        raise MilanAnalysisError(
            f"versioned table {path}: keep_from={keep_from} is beyond the "
            f"current version {cur}"
        )
    keep_dirs: set[str] = set()
    removed_m = 0
    for entry in versions(path):
        v = entry["version"]
        if v >= keep_from:
            keep_dirs.update(_read_manifest(path, v)["dirs"])
        else:
            os.remove(_manifest_path(path, v))
            removed_m += 1
    removed_d = 0
    droot = os.path.join(path, _DATA)
    for name in sorted(os.listdir(droot)):
        rel = f"{_DATA}/{name}"
        if rel not in keep_dirs:
            shutil.rmtree(os.path.join(droot, name))
            removed_d += 1
    return {"dirs_removed": removed_d, "manifests_removed": removed_m}


def versioned_sink(path: str):
    """``foreachBatch`` writer with EXACTLY-ONCE commits into a versioned
    table: every microbatch appends under the tag
    ``batch=<queryId>:<batchId>`` (:func:`once_per_batch`), and a replayed
    batch — Spark re-runs the last microbatch when a restart finds its
    checkpoint behind the sink — is skipped because the manifest already
    records it. The manifest chain IS the transaction log, the
    standard batchId-idempotent transactional-sink recipe; combined with
    the atomic manifest-link commit point, readers see each microbatch
    exactly once or not yet."""
    return once_per_batch(path, lambda df, tag: commit_append(df, path, tag=tag))


def once_per_batch(path: str, commit):
    """Wrap ``commit(batch_df, tag)`` as a ``foreachBatch`` writer that
    commits under the tag ``batch=<queryId>:<batchId>`` and skips a tag the
    manifest chain of ``path`` already records — the replay a restart runs
    when its checkpoint is behind the sink.

    The query id is the streaming query's ``id``: it is stored in a named
    checkpoint, so it is stable across restarts from it, and new under each
    private checkpoint. A second run with a private checkpoint restarts
    batch ids at 0 and still commits every batch. Called outside a
    streaming query (no query id) the tag is a bare ``batch=<batchId>``,
    as all tags were before they carried the query id. A bare tag matches
    only a bare tag: a query restarted on a table whose last commit has one
    re-commits the batch its checkpoint replays, which happens only when
    the earlier run died between the sink commit and the checkpoint's."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        qid = batch_df.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId")
        tag = f"batch={qid}:{batch_id}" if qid else f"batch={batch_id}"
        if not any(e["tag"] == tag for e in versions(path)):
            commit(batch_df, tag)

    return write


def merge_head(updates: DataFrame, path: str, key_cols, *,
               seq_col: str | None = None, tag: str | None = None) -> int:
    """:func:`commit_merge`, then ``vacuum`` all but the new head and its
    parent: the retention of a table read only at its head (a keyed upsert
    sink's), which would otherwise keep one full copy per commit."""
    v = commit_merge(updates.sparkSession, updates, path, key_cols,
                     seq_col=seq_col, tag=tag)
    vacuum(path, keep_from=v - 1)
    return v


def merge_sink(path: str, key_cols, *, seq_col: str | None = None):
    """``foreachBatch`` writer that upserts every microbatch into the
    versioned table at ``path`` through :func:`merge_head`, once per batch
    id (:func:`once_per_batch`)."""
    return once_per_batch(path, lambda df, tag: merge_head(
        df, path, key_cols, seq_col=seq_col, tag=tag))


def publish_appends(path: str, staging: str) -> dict:
    """Advance the STREAMING TAIL of a versioned table: hard-link the
    parquet files of every append commit newer than the staging area's
    watermark into ``staging`` (names prefixed with the commit version for
    provenance), then advance the watermark. A Structured Streaming file
    source watching ``staging`` (:func:`stream_appends`) discovers exactly
    the committed files — never an in-flight or race-losing orphan
    directory, which a source watching ``data/`` directly would ingest.
    Hard links cost no data copy; the table's files stay immutable.

    Idempotent (re-runs publish nothing new) and append-only: a merge/
    overwrite/compact commit raises a named error, the same contract the
    incremental view maintenance documents — rewritten history cannot be
    tailed, it must be reprocessed. Returns {"from_version", "to_version",
    "files"}."""
    os.makedirs(staging, exist_ok=True)
    wm_path = os.path.join(staging, "_published")
    try:
        with open(wm_path) as f:
            have = int(f.read().strip())
    except FileNotFoundError:
        have = 0
    head = current_version(path)
    files = 0
    for v in range(have + 1, head + 1):
        m = _read_manifest(path, v)
        if m["op"] != "append":
            raise MilanAnalysisError(
                f"stream_appends: version {v} is op={m['op']!r}; a streaming "
                f"tail is append-only — rewritten history must be "
                f"reprocessed from a fresh snapshot"
            )
        new_dir = m["dirs"][-1]
        droot = os.path.join(path, new_dir)
        for name in sorted(os.listdir(droot)):
            if not name.endswith(".parquet"):
                continue
            dst = os.path.join(staging, f"{_vname(v)}-{name}")
            if not os.path.exists(dst):
                _link_or_copy(os.path.join(droot, name), dst)
                files += 1
    tmp = wm_path + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(str(head))
    os.replace(tmp, wm_path)
    return {"from_version": have, "to_version": head, "files": files}


def stream_appends(
    spark: SparkSession,
    path: str,
    staging: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Structured-streaming read of a versioned table's append commits, via
    a :func:`publish_appends` staging area — the table-as-stream half of
    the lakehouse pattern (commits in, micro-batches out; the other half is
    ``versioned_sink``, streams in, commits out). Exactly-once comes from
    the file source's checkpointed seen-files log; the schema is pinned
    from the current manifest, and append-mode schema evolution stays
    compatible because parquet fills absent columns with NULL. No ordering
    guarantee WITHIN a publish batch — time semantics belong to watermarks,
    not file order."""
    v = current_version(path)
    if v == 0:
        raise MilanAnalysisError(f"versioned table {path}: no commits yet")
    schema = StructType.fromJson(json.loads(_read_manifest(path, v)["schema"]))
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.option("pathGlobFilter", "*.parquet").parquet(staging)


def table_stats(path: str, version: int | None = None) -> dict:
    """Physical shape of a snapshot — the numbers a maintenance policy
    reads: directories, files, bytes, and whether per-file metadata (zone
    maps / blooms) covers the snapshot. Driver-side listing of the
    snapshot's own directories only, O(files in snapshot)."""
    v = current_version(path) if version is None else int(version)
    if v == 0:
        raise MilanAnalysisError(f"versioned table {path}: no commits yet")
    m = _read_manifest(path, v)
    files = bytes_ = 0
    for fp in _snapshot_paths(path, m):
        if os.path.isdir(fp):
            for name in os.listdir(fp):
                if name.endswith(".parquet"):
                    files += 1
                    bytes_ += os.path.getsize(os.path.join(fp, name))
        else:
            files += 1
            bytes_ += os.path.getsize(fp)
    return {
        "version": v,
        "dirs": len(m["dirs"]),
        "files": files,
        "bytes": bytes_,
        "stats_files": len(m.get("stats", {})),
        "bloom_files": len(m.get("blooms", {})),
    }


def maybe_compact(
    spark: SparkSession,
    path: str,
    *,
    max_dirs: int = 16,
    min_file_bytes: int | None = None,
    **compact_kwargs,
) -> dict:
    """The small-file maintenance policy, as a decision not a ritual:
    compact when the snapshot spans more than ``max_dirs`` directories
    (append-chain length — every reader pays one listing per directory) or
    when the MEAN file size has fallen under ``min_file_bytes`` (the
    many-tiny-files regime that turns a 100 TB scan into metadata torture).
    Policy reads only driver-side metadata; the compaction itself is one
    rewrite commit and composes with ``cluster_by``/``stats_cols``/
    ``bloom_cols`` so re-clustering and re-indexing ride the same rewrite.
    Returns the decision and the stats it was based on."""
    st = table_stats(path)
    reason = None
    if st["dirs"] > max_dirs:
        reason = f"dirs {st['dirs']} > {max_dirs}"
    elif (
        min_file_bytes is not None
        and st["files"] > 0
        and st["bytes"] // st["files"] < min_file_bytes
    ):
        reason = (
            f"mean file size {st['bytes'] // st['files']} < {min_file_bytes}"
        )
    if reason is None:
        return {"compacted": False, "reason": None, "stats": st}
    v = compact(spark, path, **compact_kwargs)
    return {"compacted": True, "reason": reason, "version": v, "stats": st}


def commit_delete(
    spark: SparkSession,
    path: str,
    predicates,
    *,
    tag: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 8192,
) -> dict:
    """Targeted copy-on-write DELETE: remove every row matching the
    conjunctive ``predicates`` (prune_files grammar) by rewriting ONLY the
    files that can contain a match — the zone maps and Bloom filters that
    prune reads bound the rewrite the same way, so a delete-one-customer
    pass over a 100 TB table rewrites the handful of files holding that
    key, not the table (the right-to-be-forgotten shape). Untouched files
    stay referenced byte-identical; the new manifest excludes the rewritten
    candidates from their original directories and adds one directory with
    their surviving rows. Old versions still see the deleted rows (time
    travel) until ``vacuum`` — for privacy deletes, vacuum IS the erasure
    step and must follow.

    NULL discipline mirrors SQL DELETE ... WHERE: a row whose predicate
    evaluates to NULL does NOT match and is kept. Returns {"version",
    "files_rewritten", "files_untouched"}."""
    v = current_version(path)
    if v == 0:
        raise MilanAnalysisError(f"versioned table {path}: no commits yet")
    m = _read_manifest(path, v)
    excl = set(m.get("exclude_files", []))
    # a delete must not silently degrade the index: the rewrite directory
    # re-collects whatever stats/bloom columns the table already carries
    if stats_cols is None:
        stats_cols = sorted(
            {c for fs in m.get("stats", {}).values() for c in fs
             if c != "__rows"}
        ) or None
    if bloom_cols is None:
        bcols = {
            c: b["m"]
            for fb in m.get("blooms", {}).values()
            for c, b in fb.items()
        }
        if bcols:
            bloom_cols = sorted(bcols)
            bloom_bits = max(bcols.values())
    kept, blind_dirs, report = prune_files(path, predicates, v)
    candidates = list(kept)
    for d in blind_dirs:
        candidates.extend(
            os.path.relpath(p, path) for p in _expand_dir(path, d, excl)
        )
    total_files = report["files_total"] + sum(
        len(_expand_dir(path, d, excl)) for d in blind_dirs
    )
    if not candidates:
        return {"version": v, "files_rewritten": 0,
                "files_untouched": total_files}
    survivors = (
        _snapshot_reader(spark, m).parquet(*[os.path.join(path, f) for f in candidates])
        .filter(~F.coalesce(_predicate_column(predicates), F.lit(False)))
    )
    new_excl = sorted(excl | set(candidates))
    nv = _commit(
        path, survivors,
        dirs_from_parent=lambda p: _read_manifest(path, p)["dirs"] if p else [],
        op="delete", tag=tag, stats_cols=stats_cols, bloom_cols=bloom_cols,
        bloom_bits=bloom_bits, exclude_files=new_excl,
    )
    return {"version": nv, "files_rewritten": len(candidates),
            "files_untouched": total_files - len(candidates)}


def commit_update(
    spark: SparkSession,
    path: str,
    predicates,
    assignments: dict[str, Column],
    *,
    tag: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 8192,
) -> dict:
    """Targeted copy-on-write UPDATE — the fourth DML verb (append=INSERT,
    ``commit_merge``=MERGE, ``commit_delete``=DELETE): rewrite ONLY the
    files that can contain a match, applying ``assignments`` (column ->
    expression over the row) to matching rows and passing the rest of the
    candidate rows through unchanged. Bounded exactly like
    :func:`commit_delete` by the manifest's zone maps / Bloom filters;
    non-candidate files stay referenced byte-identical. NULL predicates
    do not match (rows keep their values). Index columns are re-collected
    on the rewrite so stats never silently degrade. Returns {"version",
    "files_rewritten", "files_untouched"}."""
    v = current_version(path)
    if v == 0:
        raise MilanAnalysisError(f"versioned table {path}: no commits yet")
    m = _read_manifest(path, v)
    cols = [f["name"] for f in json.loads(m["schema"])["fields"]]
    bad = sorted(set(assignments) - set(cols))
    if bad:
        raise MilanAnalysisError(
            f"commit_update: assignment targets {bad} not in table columns "
            f"{cols}"
        )
    excl = set(m.get("exclude_files", []))
    if stats_cols is None:
        stats_cols = sorted(
            {c for fs in m.get("stats", {}).values() for c in fs
             if c != "__rows"}
        ) or None
    if bloom_cols is None:
        bcols = {
            c: b["m"]
            for fb in m.get("blooms", {}).values()
            for c, b in fb.items()
        }
        if bcols:
            bloom_cols = sorted(bcols)
            bloom_bits = max(bcols.values())
    kept, blind_dirs, report = prune_files(path, predicates, v)
    candidates = list(kept)
    for d in blind_dirs:
        candidates.extend(
            os.path.relpath(p, path) for p in _expand_dir(path, d, excl)
        )
    total_files = report["files_total"] + sum(
        len(_expand_dir(path, d, excl)) for d in blind_dirs
    )
    if not candidates:
        return {"version": v, "files_rewritten": 0,
                "files_untouched": total_files}
    match = F.coalesce(_predicate_column(predicates), F.lit(False))
    src = _snapshot_reader(spark, m).parquet(*[os.path.join(path, f) for f in candidates])
    rewritten = src.select(
        *[
            F.when(match, assignments[c]).otherwise(F.col(c)).alias(c)
            if c in assignments
            else F.col(c)
            for c in src.columns
        ]
    )
    new_excl = sorted(excl | set(candidates))
    nv = _commit(
        path, rewritten,
        dirs_from_parent=lambda p: _read_manifest(path, p)["dirs"] if p else [],
        op="update", tag=tag, stats_cols=stats_cols, bloom_cols=bloom_cols,
        bloom_bits=bloom_bits, exclude_files=new_excl,
    )
    return {"version": nv, "files_rewritten": len(candidates),
            "files_untouched": total_files - len(candidates)}


def clone_table(
    path: str, dst: str, version: int | None = None, *, tag: str | None = None
) -> int:
    """Zero-copy CLONE of a snapshot into a new independent table: every
    data file is hard-linked (same filesystem, no bytes moved — a 100 TB
    table clones in metadata time), the manifest chain collapses to one
    clone commit carrying the snapshot's dirs, per-file stats/blooms, and
    exclusion lists. The clone then evolves independently — appends,
    deletes, compactions on either side never touch the other, because
    data files are immutable on both and links share bytes only until one
    side's vacuum unlinks its name. The dev/CI pattern: experiment on a
    clone of production, throw it away."""
    v = current_version(path) if version is None else int(version)
    if v == 0:
        raise MilanAnalysisError(f"versioned table {path}: no commits yet")
    if os.path.exists(os.path.join(dst, _MANIFEST_DIR)) or current_version(dst):
        raise MilanAnalysisError(
            f"clone_table: destination {dst} is already a versioned table"
        )
    m = _read_manifest(path, v)
    os.makedirs(os.path.join(dst, _MANIFEST_DIR), exist_ok=True)
    os.makedirs(os.path.join(dst, _DATA), exist_ok=True)
    for d in m["dirs"]:
        src_d, dst_d = os.path.join(path, d), os.path.join(dst, d)
        os.makedirs(dst_d, exist_ok=True)
        for name in os.listdir(src_d):
            if name.endswith(".parquet"):
                _link_or_copy(
                    os.path.join(src_d, name), os.path.join(dst_d, name)
                )
    manifest = {
        "version": 1, "parent": 0, "op": "clone",
        "tag": tag or f"from={os.path.abspath(path)}@{v}",
        "dirs": m["dirs"], "schema": m["schema"],
        "dir_schemas": m.get("dir_schemas", {}),
        "stats": m.get("stats", {}), "blooms": m.get("blooms", {}),
        "exclude_files": m.get("exclude_files", []),
    }
    return _link_manifest(
        dst, manifest,
        f"clone_table: destination {dst} was initialized concurrently",
    )


def rollback(path: str, to_version: int, *, tag: str | None = None) -> int:
    """Restore an earlier snapshot as the NEW head — the bad-deploy /
    bad-data incident lever: a metadata-only commit whose manifest is the
    old version's dirs, stats, blooms, and exclusions verbatim (op
    "rollback"). Nothing rewrites; history stays intact, so the bad
    versions remain inspectable (and vacuum-able) and the rollback itself
    is one more auditable commit, not an erasure. Fails atomically under
    the same OCC claim as every commit."""
    v = current_version(path)
    if v == 0:
        raise MilanAnalysisError(f"versioned table {path}: no commits yet")
    if not (1 <= to_version <= v):
        raise MilanAnalysisError(
            f"rollback: target version {to_version} not in [1, {v}]"
        )
    old = _read_manifest(path, to_version)
    nv = v + 1
    manifest = {
        "version": nv, "parent": v, "op": "rollback",
        "tag": tag or f"to={to_version}",
        "dirs": old["dirs"], "schema": old["schema"],
        "dir_schemas": old.get("dir_schemas", {}),
        "stats": old.get("stats", {}), "blooms": old.get("blooms", {}),
        "exclude_files": old.get("exclude_files", []),
    }
    return _link_manifest(
        path, manifest,
        f"versioned table {path}: version {nv} was committed by a concurrent "
        f"writer during rollback; re-check the head and retry",
    )


def count_where(
    spark: SparkSession,
    path: str,
    predicates=(),
    version: int | None = None,
) -> dict:
    """COUNT(*) with aggregate pushdown into the MANIFEST: files are split
    three ways against the conjunctive ``predicates`` — disjoint (zone map
    proves no row can match: contribute 0), fully-covered (zone map proves
    EVERY row matches: min and max inside the predicate range and zero
    nulls — contribute their footer row count without opening the file),
    and partial (actually scanned, with the exact predicate). With no
    predicates and full stats coverage the answer is a pure metadata sum —
    the SELECT COUNT(*) that reads zero data bytes, same as every table
    format's numRecords fast path; a count over a clustered predicate scans
    only the boundary files of the range. Exactness is unconditional: any
    file the metadata cannot decide is scanned. Returns {"count",
    "files_metadata_only", "files_scanned", "files_skipped"}."""
    v = current_version(path) if version is None else int(version)
    if v == 0:
        raise MilanAnalysisError(f"versioned table {path}: no commits yet")
    m = _read_manifest(path, v)
    stats = m.get("stats", {})
    blooms = m.get("blooms", {})
    excl = set(m.get("exclude_files", []))
    known = sorted(set(stats) | set(blooms))
    covered_dirs = {f.rsplit("/", 1)[0] for f in known}
    scan: list[str] = [
        p for d in m["dirs"] if d not in covered_dirs
        for p in _expand_dir(path, d, excl)
    ]
    total = 0
    meta_files = skipped = 0
    for f in known:
        fs, fb = stats.get(f, {}), blooms.get(f, {})
        if not _file_survives(fs, fb, predicates):
            skipped += 1
            continue
        rows = fs.get("__rows")
        if rows is not None and all(
            _file_fully_matches(fs.get(col), op, value)
            for col, op, value in predicates
        ):
            total += rows
            meta_files += 1
        else:
            scan.append(os.path.join(path, f))
    if scan:
        df = _snapshot_reader(spark, m).parquet(*scan)
        if predicates:
            df = df.filter(_predicate_column(predicates))
        total += df.count()
    return {
        "count": total,
        "files_metadata_only": meta_files,
        "files_scanned": len(scan),
        "files_skipped": skipped,
        "version": v,
    }


def _file_fully_matches(st, op: str, value) -> bool:
    """True only when the zone map PROVES every row in the file satisfies
    (col op value): bounds strictly inside the predicate range and no
    NULLs (a NULL row never matches). Unknown -> False (forces a scan)."""
    if st is None or st.get("nulls", 1) != 0:
        return False
    mn, mx = st["min"], st["max"]
    if mn is None or mx is None:
        return False
    k = st["kind"]
    if op == "between":
        lo, hi = _norm(value[0], k), _norm(value[1], k)
        return lo <= mn and mx <= hi
    val = _norm(value, k)
    if op == "=":
        return mn == val and mx == val
    if op == "<":
        return mx < val
    if op == "<=":
        return mx <= val
    if op == ">":
        return mn > val
    if op == ">=":
        return mn >= val
    return False  # "in": bloom can't prove totality
