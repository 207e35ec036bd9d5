"""Snapshot-log versioned tables on plain parquet (Iceberg discipline).

sources/catalog.py routes to real Iceberg when a catalog is configured;
this module supplies the same COMMIT SEMANTICS when it is not — the
mechanics the north rule's sink story needs, built from scratch:

- **Atomic commits**: data files land first, then one version manifest
  (``_versions/v{N}.json``) is published via write-temp + atomic
  ``os.link`` — a true compare-and-swap: ``link`` fails EEXIST if the
  version number is already taken, so of two concurrent writers exactly
  ONE commits and the loser gets ``CommitConflict`` (it may retry on
  the new parent). Readers either see version N complete or not at
  all — a crashed writer leaves unreferenced data files, never a torn
  table.
- **Snapshot isolation / time travel**: a manifest lists exactly the
  data files of its version; ``read_version(path, n)`` reads any
  historical version while writers keep committing.
- **File reuse**: ``append`` commits reference the parent's files plus
  the new ones — no rewrite of existing data (Iceberg's manifest-reuse
  model, the property that makes commits O(delta) at 100 TB).
- **Rollback**: ``rollback`` publishes a NEW version whose file list is
  a past version's — history stays immutable, like Iceberg's
  ``rollback_to_snapshot``.
- **Schema evolution**: manifests carry a field-ID schema (Iceberg's
  column-ID model); :func:`evolve_schema` publishes a METADATA-ONLY
  version that adds or renames columns without touching a data
  file. Readers project every file through its write-time schema BY
  FIELD ID — renamed columns keep their data, added columns read as
  NULL from pre-evolution files — so a 100 TB
  table evolves in O(manifest), never O(data). Per-file [min, max]
  stats recorded under a column's old name simply stop pruning after a
  rename (a file without usable stats is always read — never lost
  rows, only lost skipping, until an overwrite commit rewrites the files).

Not wire-compatible with Iceberg (no Avro manifests) — it is the
discipline, not the format, and swaps out for the real thing through
sources/catalog.py on a cluster with the runtime jar. Concurrency:
the link-CAS arbitrates exactly one committer per version number;
``CommitConflict`` is the optimistic-concurrency retry signal
(Iceberg's ``CommitFailedException`` analogue).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflict(RuntimeError):
    """Another writer committed this version number first (the link-CAS
    lost the race). The table is intact — the loser's data files are
    unreferenced orphans. Retry the commit against the new parent, or
    surface the conflict."""


def _versions_dir(path: str) -> str:
    return os.path.join(path, "_versions")


def current_version(path: str) -> int | None:
    """Highest committed version number, or None for an empty table."""
    vdir = _versions_dir(path)
    if not os.path.isdir(vdir):
        return None
    versions = [
        int(f[1:-5])
        for f in os.listdir(vdir)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions) if versions else None


def _load_manifest(path: str, version: int) -> dict:
    with open(os.path.join(_versions_dir(path), f"v{version}.json")) as f:
        return json.load(f)


def _footer_stats(path: str, rel_files: list[str], cols: list[str]) -> dict:
    """Per-file [min, max] for ``cols``, read from the parquet FOOTERS
    (no data scan — the same source Iceberg harvests into its manifest
    column_sizes/lower_bounds/upper_bounds). Columns without footer
    statistics are simply absent for that file, which pruned reads
    treat as "must read" — always safe."""
    import pyarrow.parquet as pq

    stats: dict[str, dict] = {}
    for rel in rel_files:
        meta = pq.ParquetFile(os.path.join(path, rel)).metadata
        names = {meta.schema.column(j).name: j for j in range(meta.num_columns)}
        per_col: dict[str, list] = {}
        for c in cols:
            j = names.get(c)
            if j is None:
                continue
            lo = hi = None
            ok = True
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(j).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mn, mx = st.min, st.max
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            if ok and lo is not None:
                if not isinstance(lo, (int, float, str)):
                    lo, hi = str(lo), str(hi)  # dates etc. -> ISO strings
                per_col[c] = [lo, hi]
        if per_col:
            stats[rel] = per_col
    return stats


_TYPE_ALIASES = {"long": "bigint", "integer": "int", "short": "smallint",
                 "byte": "tinyint"}


def _norm_type(t: str) -> str:
    """Normalize a Spark type string to simpleString form (DDL accepts
    aliases like 'long' that simpleString renders as 'bigint')."""
    t = t.strip().lower()
    return _TYPE_ALIASES.get(t, t)


def _df_fields(df: DataFrame) -> list[dict]:
    """(name, type) pairs of ``df`` in Spark simpleString form — the
    shape stored in manifests (ids are assigned by the table)."""
    return [
        {"name": f.name, "type": f.dataType.simpleString()}
        for f in df.schema.fields
    ]


def _schema_of(m: dict) -> list[dict] | None:
    """The manifest's current schema fields, or None for tables
    created before schema tracking (legacy plain-read mode)."""
    schemas = m.get("schemas")
    if not schemas:
        return None
    return schemas[str(m["schema_id"])]["fields"]


def _project_to(df: DataFrame, from_fields: list[dict], to_fields: list[dict]) -> DataFrame:
    """Project ``df`` (physical columns named per ``from_fields``) into
    ``to_fields`` BY FIELD ID: matching ids select-and-rename (rename
    safety), ids absent from the file read as typed NULLs (added
    columns), ids absent from the target are dropped."""
    by_id = {f["id"]: f["name"] for f in from_fields}
    cols = []
    for f in to_fields:
        src = by_id.get(f["id"])
        if src is not None:
            cols.append(F.col(src).alias(f["name"]))
        else:
            cols.append(F.lit(None).cast(f["type"]).alias(f["name"]))
    return df.select(*cols)


def _read_projected(
    spark: SparkSession,
    path: str,
    m: dict,
    files: list[str],
    cur: list[dict] | None,
) -> DataFrame:
    """Read ``files`` of manifest ``m``, projecting each file through
    its write-time schema into ``cur`` by field id. Files sharing a
    write-time schema read as ONE parquet scan, and a group whose
    schema already equals ``cur`` skips projection entirely (the
    no-evolution case collapses to a single plain read)."""
    if cur is None or not m.get("schemas"):
        return spark.read.parquet(*[os.path.join(path, f) for f in files])
    file_sids = m.get("file_schemas") or {}
    default_sid = m["schema_id"]
    groups: dict[int, list[str]] = {}
    for f in files:
        groups.setdefault(file_sids.get(f, default_sid), []).append(f)
    out = None
    for sid in sorted(groups):
        part = spark.read.parquet(
            *[os.path.join(path, f) for f in groups[sid]]
        )
        from_fields = m["schemas"][str(sid)]["fields"]
        if from_fields != cur:
            part = _project_to(part, from_fields, cur)
        out = part if out is None else out.unionByName(part)
    return out


def evolve_schema(
    path: str,
    *,
    add: list[tuple[str, str]] | None = None,
    rename: dict[str, str] | None = None,
) -> int:
    """Publish a METADATA-ONLY version with an evolved schema (Iceberg
    ``ALTER TABLE`` semantics): ``add`` appends (name, sparkTypeString)
    columns with fresh field ids (NULL in all pre-evolution files),
    ``rename`` re-labels columns keeping their field ids (data follows
    the id, not the name). No data file is touched —
    O(manifest) at any table size. Raises on unknown/duplicate names;
    CommitConflict under concurrent writers like any commit."""
    v = current_version(path)
    if v is None:
        raise FileNotFoundError(f"no committed versions under {path}")
    m = _load_manifest(path, v)
    if _schema_of(m) is None:
        raise ValueError(
            "table predates schema tracking; rewrite it with "
            "commit_version to enable evolution"
        )
    schemas = dict(m["schemas"])
    entry = schemas[str(m["schema_id"])]
    fields = [dict(f) for f in entry["fields"]]
    next_id = entry["next_id"]
    names = {f["name"] for f in fields}
    for old, new in (rename or {}).items():
        if old not in names:
            raise ValueError(f"rename of unknown column {old!r}")
        if new in names:
            raise ValueError(f"rename target {new!r} already exists")
        for f in fields:
            if f["name"] == old:
                f["name"] = new
        names.discard(old)
        names.add(new)
    for name, typ in add or []:
        if name in names:
            raise ValueError(f"added column {name!r} already exists")
        fields.append({"id": next_id, "name": name, "type": _norm_type(typ)})
        next_id += 1
        names.add(name)
    new_sid = m["schema_id"] + 1
    schemas[str(new_sid)] = {"fields": fields, "next_id": next_id}
    extra = {
        "schema_id": new_sid,
        "schemas": schemas,
        "file_schemas": m.get("file_schemas") or {},
    }
    if m.get("stats"):
        extra["stats"] = m["stats"]
    if m.get("resolve_as") is not None:
        extra["resolve_as"] = m["resolve_as"]
    elif m.get("delete_files"):
        # evolving on top of a merge-on-read version: delegate row
        # resolution to it (the MOR chain applies under the new schema
        # via the target_schema threading in _resolve)
        extra["resolve_as"] = v
    return _publish(path, m["files"], "evolve_schema", v, extra=extra)


def _schema_extra(
    df: DataFrame, pm: dict | None, new_files: list[str], *, fresh: bool
) -> dict:
    """Manifest schema keys for a data commit: first commit assigns
    field ids 1..n; later commits validate the dataframe against the
    table's current schema ((name, type) sets — evolve_schema is the
    only way to change shape) and tag the new files with the current
    schema id. Legacy tables (parent without schema keys) stay legacy.
    ``fresh``: overwrite drops the parent's file->schema map."""
    fields_now = _df_fields(df)
    if pm is None:
        ids = [{"id": k + 1, **f} for k, f in enumerate(fields_now)]
        return {
            "schema_id": 0,
            "schemas": {"0": {"fields": ids, "next_id": len(ids) + 1}},
            "file_schemas": {f: 0 for f in new_files},
        }
    cur = _schema_of(pm)
    if cur is None:
        return {}
    if {(f["name"], f["type"]) for f in cur} != {
        (f["name"], f["type"]) for f in fields_now
    }:
        raise ValueError(
            "dataframe schema does not match the table schema; call "
            "evolve_schema first"
        )
    fs = {} if fresh else dict(pm.get("file_schemas") or {})
    fs.update({f: pm["schema_id"] for f in new_files})
    return {
        "schema_id": pm["schema_id"],
        "schemas": pm["schemas"],
        "file_schemas": fs,
    }


def commit_version(
    df: DataFrame,
    path: str,
    mode: str = "append",
    stats_cols: list[str] | None = None,
) -> int:
    """Commit ``df`` as the next table version; returns its number.

    ``mode``: 'append' references the parent version's files plus the
    newly written ones; 'overwrite' references only the new ones (the
    old files stay on disk, still referenced by older manifests).

    ``stats_cols``: record per-file [min, max] footer statistics for
    these columns in the manifest (Iceberg's lower/upper bounds) —
    the data-skipping index :func:`read_version_pruned` consults.
    Append commits carry the parent's stats forward for reused files.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown commit mode {mode!r}")
    snap_dir = os.path.join(path, "data", uuid.uuid4().hex)
    df.write.mode("error").parquet(snap_dir)
    new_files = sorted(
        os.path.join("data", os.path.basename(snap_dir), f)
        for f in os.listdir(snap_dir)
        if f.endswith(".parquet")
    )
    parent = current_version(path)
    pm = _load_manifest(path, parent) if parent is not None else None
    files = list(new_files)
    stats: dict = {}
    if mode == "append" and pm is not None:
        files = pm["files"] + new_files
        stats.update(pm.get("stats") or {})
    if stats_cols:
        stats.update(_footer_stats(path, new_files, stats_cols))
    extra: dict = {"stats": stats} if stats else {}
    extra.update(_schema_extra(df, pm, new_files, fresh=mode == "overwrite"))
    return _publish(path, files, mode, parent, extra=extra or None)


def rollback(spark: SparkSession, path: str, to_version: int) -> int:
    """Publish a new version whose contents are ``to_version``'s.
    History is immutable — this never deletes manifests or data. The
    manifest delegates resolution to the target (``resolve_as``), so
    rolling back to a merge-on-read version keeps its delete chain."""
    tm = _load_manifest(path, to_version)
    extra: dict = {"resolve_as": to_version}
    if tm.get("schemas"):
        # schema follows the snapshot (Iceberg rollback semantics), and
        # carrying the keys keeps later commits schema-tracked
        extra.update(
            schema_id=tm["schema_id"],
            schemas=tm["schemas"],
            file_schemas=tm.get("file_schemas") or {},
        )
    return _publish(
        path,
        tm["files"],
        f"rollback:{to_version}",
        current_version(path),
        extra=extra,
    )


def _publish(
    path: str,
    files: list[str],
    mode: str,
    parent: int | None,
    extra: dict | None = None,
) -> int:
    """Atomic commit point. ``extra`` fields (schema ids, file stats)
    ride the SAME atomic publish as the file list — a manifest is never
    visible without them.

    The publish is a true CAS: ``os.link(tmp, final)`` atomically fails
    ``EEXIST`` when the version number is already taken (unlike
    ``os.replace``, which silently overwrites — an exists-check before
    a replace is a TOCTOU race). Exactly one of N concurrent writers
    returns; the rest raise :class:`CommitConflict` and the winner's
    manifest is never touched."""
    version = 0 if parent is None else parent + 1
    vdir = _versions_dir(path)
    os.makedirs(vdir, exist_ok=True)
    manifest = {
        "version": version,
        "parent": parent,
        "mode": mode,
        "files": files,
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        **(extra or {}),
    }
    tmp = os.path.join(vdir, f".v{version}.json.{uuid.uuid4().hex}.tmp")
    final = os.path.join(vdir, f"v{version}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    try:
        os.link(tmp, final)  # the atomic commit point: EEXIST = lost race
    except FileExistsError:
        raise CommitConflict(
            f"version {version} already committed by a concurrent writer"
        ) from None
    finally:
        os.unlink(tmp)
    return version


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read of ``version`` (default: latest). Historical
    versions stay readable after later commits and rollbacks."""
    if version is None:
        version = current_version(path)
        if version is None:
            raise FileNotFoundError(f"no committed versions under {path}")
    return _resolve(spark, path, version)


def read_version_pruned(spark: SparkSession, path: str, col: str, lo, hi):
    """Data-skipping snapshot read: ``col BETWEEN lo AND hi`` rows of
    the current version, opening ONLY the data files whose manifest
    [min, max] bounds overlap the range (Iceberg's scan planning against
    manifest lower/upper bounds). Files without recorded stats for
    ``col`` are always read — missing stats can never lose rows. The residual
    filter still applies (pruning is file-granular), and Spark pushes
    it into the parquet scan of the surviving files.

    Returns (df, report) where report = {files_total, files_read,
    files_skipped}. Merge-on-read and rollback versions resolve
    normally and filter (correctness first; report shows zero skips) —
    at 10^12 rows this metadata-only planning step is what turns a
    full-corpus scan into a partition-range read.
    """
    version = current_version(path)
    if version is None:
        raise FileNotFoundError(f"no committed versions under {path}")
    m = _load_manifest(path, version)
    rng = (F.col(col) >= lo) & (F.col(col) <= hi)
    mixed_schemas = m.get("schemas") and any(
        sid != m["schema_id"]
        for sid in (m.get("file_schemas") or {}).values()
    )
    if m.get("resolve_as") is not None or m.get("delete_files") or mixed_schemas:
        # MOR chain / rollback / schema-evolved files: stats are keyed
        # by write-time column names, so prune conservatively by
        # resolving fully and filtering (correctness first)
        df = _resolve(spark, path, version).filter(rng)
        n = len(m["files"])
        return df, {"files_total": n, "files_read": n, "files_skipped": 0}
    stats = m.get("stats") or {}
    keep = []
    for f in m["files"]:
        b = stats.get(f, {}).get(col)
        if b is None or (b[0] <= hi and b[1] >= lo):
            keep.append(f)
    report = {
        "files_total": len(m["files"]),
        "files_read": len(keep),
        "files_skipped": len(m["files"]) - len(keep),
    }
    if not keep:
        empty = spark.read.parquet(os.path.join(path, m["files"][0])).filter(
            F.lit(False)
        )
        return empty, report
    df = spark.read.parquet(*[os.path.join(path, f) for f in keep]).filter(rng)
    return df, report


def upsert_version(df: DataFrame, path: str, key_col: str) -> int:
    """Merge-on-read UPSERT commit (Iceberg equality-delete model):
    publish ``df`` as the next version WITHOUT rewriting parent data —
    the commit writes (a) the new rows and (b) an equality-delete file
    of their keys, and readers apply the deletes to PARENT rows only,
    so new data wins per key and untouched rows pass through. Commits
    stay O(delta) at any table size; read cost grows with upsert-chain
    depth until a compacting ``commit_version(mode='overwrite')``
    (documented Iceberg discipline: MOR writes, periodic COW compaction).
    """
    snap_dir = os.path.join(path, "data", uuid.uuid4().hex)
    df.write.mode("error").parquet(snap_dir)
    del_dir = os.path.join(path, "deletes", uuid.uuid4().hex)
    df.select(key_col).distinct().write.mode("error").parquet(del_dir)

    def _rel(d: str) -> list[str]:
        return sorted(
            os.path.join(os.path.relpath(d, path), f)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    parent = current_version(path)
    files = _rel(snap_dir)
    pm = _load_manifest(path, parent) if parent is not None else None
    if pm is not None:
        files = pm["files"] + files
    extra = {
        "new_files": _rel(snap_dir),
        "delete_files": _rel(del_dir),
        "delete_key": key_col,
    }
    extra.update(_schema_extra(df, pm, _rel(snap_dir), fresh=False))
    if extra.get("schemas"):
        cur = extra["schemas"][str(extra["schema_id"])]["fields"]
        extra["delete_key_id"] = next(
            f["id"] for f in cur if f["name"] == key_col
        )
    return _publish(path, files, "upsert", parent, extra=extra)


def _resolve(
    spark: SparkSession,
    path: str,
    version: int,
    target_schema: list[dict] | None = None,
) -> DataFrame:
    """Resolve ``version``'s rows, projected into ``target_schema``
    (default: the version's own current schema; None throughout for
    legacy tables). The projection happens at FILE-read granularity —
    each data file maps through its write-time schema by field id —
    so rollback delegation and merge-on-read chains compose with
    schema evolution."""
    m = _load_manifest(path, version)
    cur = _schema_of(m) if target_schema is None else target_schema
    if m.get("resolve_as") is not None:  # rollback: delegate to the target
        return _resolve(spark, path, m["resolve_as"], target_schema=cur)
    if not m.get("delete_files"):
        return _read_projected(spark, path, m, m["files"], cur)
    # MOR read: parent rows minus this commit's equality deletes,
    # unioned with this commit's new rows (new data wins per key).
    parent = _resolve(spark, path, m["parent"], target_schema=cur)
    deletes = spark.read.parquet(
        *[os.path.join(path, f) for f in m["delete_files"]]
    )
    new_rows = _read_projected(spark, path, m, m["new_files"], cur)
    key = m["delete_key"]
    if cur is not None and m.get("delete_key_id") is not None:
        # the key column may have been RENAMED since this upsert: the
        # delete file keeps the write-time name; map it by field id
        by_id = {f["id"]: f["name"] for f in cur}
        cur_key = by_id[m["delete_key_id"]]
        if cur_key != key:
            deletes = deletes.withColumnRenamed(key, cur_key)
            key = cur_key
    return parent.join(deletes, key, "left_anti").unionByName(new_rows)
