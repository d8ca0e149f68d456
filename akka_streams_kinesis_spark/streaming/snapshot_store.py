"""Manifest-committed snapshot storage — the commit layer and the one
owner of the on-disk format of the standing ANN index
(``streaming/ann_index.py``), which calls it by the public names below.

One standing index = a set of parquet TABLES under a common ``root``,
each partitioned by key columns, plus a ``_manifest`` directory of tiny
JSON files. The contract:

- Data files are VERSIONED: a batch at version N writes
  ``part-v{N:08d}.parquet`` into each touched partition directory and
  never mutates a committed file.
- A single JSON manifest ``_manifest/v{N:08d}.json`` maps every live
  partition of every table to its current file; the ``LATEST`` pointer
  flip is the batch's one atomic commit point. Readers resolve
  LATEST → manifest → explicit file list, so a reader concurrent with
  an in-flight batch sees the mutually-consistent pre-batch snapshot,
  and a crash before the pointer flip leaves the committed snapshot
  untouched (the replay re-derives the version and overwrites orphans).
- A partition drained of its last row is REMOVED from the manifest (no
  zero-row files, no rmtree); superseded files wait for a VACUUM pass.
- All filesystem access routes through ``pyarrow.fs`` resolved from the
  root URI — bare paths and ``file:`` use LocalFileSystem with
  same-directory temp+rename, object-store schemes write final keys
  directly (PUT-on-close is atomic there; renames are copies).

A commit is ``begin`` (the next manifest) → ``write_partitions`` per
touched table → ``commit``. Single-writer, many-reader: one foreachBatch
drain (or maintenance pass) commits at a time — the streaming runtime
serializes micro-batches — while readers never block it.

Reference parity: none (SURVEY §2.D north-star infrastructure); the
read-while-write contract mirrors the reference source's rule that
maintenance never blocks reads (KinesisSource.scala:229-235 keeps
emitting during reshard).
"""

from __future__ import annotations

import json
import posixpath
import re
import uuid

import pyspark.sql.functions as F
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

MANIFEST_DIR = "_manifest"
PKEY = "__pkey"
TOMB = "_tomb"

# every file the writer leaves in a table directory: a committed data
# file or the temp of an unfinished publish
_OURS = re.compile(r"part-v\d{8}\.parquet|\.tmp-[0-9a-f]+")


def _manifest_file(base: str, version: int) -> str:
    return posixpath.join(base, MANIFEST_DIR, f"v{version:08d}.json")


# ---------------------------------------------------------------------------
# filesystem layer — everything routes through pyarrow.fs
# ---------------------------------------------------------------------------

_FS_FACTORIES: dict[str, object] = {}


def register_fs_factory(scheme: str, factory) -> None:
    """Register ``factory() -> pyarrow.fs.FileSystem`` for a URI scheme —
    the test seam that lets the object-store branch run against pyarrow's
    in-memory mock filesystem without network. In-process only (Spark
    python workers import the module fresh), which is fine: the mock
    branch is exercised by driving the writer/manifest functions
    directly."""
    _FS_FACTORIES[scheme] = factory


def resolve_fs(root: str):
    """(filesystem, path-within-filesystem, is_local) for a root that is
    a bare path, a ``file:`` URI, or an object-store URI. ``s3a``/``s3n``
    (Hadoop spellings) map to pyarrow's ``s3``."""
    if "://" in root:
        scheme, rest = root.split("://", 1)
        if scheme in _FS_FACTORIES:
            return _FS_FACTORIES[scheme](), rest, False
        if scheme in ("s3a", "s3n"):
            root = "s3://" + rest
        fs, path = pafs.FileSystem.from_uri(root)
        return fs, path, isinstance(fs, pafs.LocalFileSystem)
    if root.startswith("file:"):
        return pafs.LocalFileSystem(), root[len("file:"):], True
    return pafs.LocalFileSystem(), root, True


def fs_write_atomic(fs, local: bool, path: str, data: bytes) -> None:
    """Atomically publish ``data`` at ``path``: same-directory temp +
    rename on a local filesystem (rename replaces), direct PUT elsewhere
    (object-store writes are atomic on close and renames are copies)."""
    parent = posixpath.dirname(path)
    fs.create_dir(parent, recursive=True)
    if local:
        tmp = posixpath.join(parent, ".tmp-" + uuid.uuid4().hex)
        with fs.open_output_stream(tmp) as out:
            out.write(data)
        fs.move(tmp, path)
    else:
        with fs.open_output_stream(path) as out:
            out.write(data)


def fs_read(fs, path: str) -> bytes | None:
    if fs.get_file_info(path).type == pafs.FileType.NotFound:
        return None
    with fs.open_input_stream(path) as f:
        return f.read()


def _table_files(fs, base: str, tables: tuple[str, ...]):
    """FileInfo of every file under the given tables' directories."""
    for tbl in tables:
        sel = pafs.FileSelector(
            posixpath.join(base, tbl), recursive=True, allow_not_found=True
        )
        for info in fs.get_file_info(sel):
            if info.type == pafs.FileType.File:
                yield info


# ---------------------------------------------------------------------------
# manifest — one tiny JSON per committed version + a LATEST pointer
# ---------------------------------------------------------------------------


def current_version(root: str) -> int | None:
    """Newest committed manifest version, or None for a virgin root."""
    fs, base, _ = resolve_fs(root)
    raw = fs_read(fs, posixpath.join(base, MANIFEST_DIR, "LATEST"))
    return None if raw is None else int(raw.decode())


def begin(prev: dict | None, tables: tuple[str, ...], **meta) -> dict:
    """The manifest a new commit starts from: version 1 with empty
    ``tables`` on a virgin root (``prev`` None), else ``prev``'s next
    version with every table's file map copied. ``meta`` keys are laid
    over ``prev``'s."""
    if prev is None:
        return {"version": 1, "tables": {t: {} for t in tables}, **meta}
    return {
        **prev,
        **meta,
        "version": prev["version"] + 1,
        "tables": {t: dict(prev["tables"][t]) for t in tables},
    }


def commit(root: str, manifest: dict) -> None:
    """Publish ``manifest`` as version ``manifest['version']`` — the
    batch's single atomic commit point: the version file lands first,
    the LATEST pointer flip is what makes it visible. A crash between
    the two leaves LATEST on the old version; the replay rewrites the
    orphaned version file."""
    fs, base, local = resolve_fs(root)
    v = manifest["version"]
    data = json.dumps(manifest, sort_keys=True).encode()
    fs_write_atomic(fs, local, _manifest_file(base, v), data)
    fs_write_atomic(
        fs, local, posixpath.join(base, MANIFEST_DIR, "LATEST"), str(v).encode()
    )


def load(root: str, version: int | None = None) -> dict | None:
    """The newest committed manifest dict (or a pinned older
    ``version``), None for a virgin root. Two tiny reads (LATEST + one
    JSON) — cheap enough to call per query. RAISES if a pinned version
    is named but its manifest file is gone (vacuumed past, or not an
    index root)."""
    fs, base, _ = resolve_fs(root)
    if version is None:
        version = current_version(root)
        if version is None:
            return None
    raw = fs_read(fs, _manifest_file(base, version))
    if raw is None:
        raise RuntimeError(
            f"index manifest v{version} missing under {root!r}"
        )
    return json.loads(raw.decode())


def assert_virgin_root(root: str, tables: tuple[str, ...]) -> None:
    """Fail LOUDLY when pointed at a directory that already holds
    FOREIGN data but no manifest (e.g. a table written by a plain Spark
    writer): silently treating it as empty would shadow the existing
    rows forever. Orphaned ``part-v*``/``.tmp-*`` files from a crashed
    FIRST batch are ours and allowed — the replay overwrites them."""
    fs, base, _ = resolve_fs(root)
    for info in _table_files(fs, base, tables):
        if not _OURS.fullmatch(posixpath.basename(info.path)):
            raise RuntimeError(
                f"{root!r} contains unversioned file {info.path!r} but "
                f"no manifest — refusing to shadow foreign data"
            )


def manifest_read(
    spark: SparkSession,
    root: str,
    manifest: dict,
    tbl: str,
    schema: StructType,
    keep=None,
) -> DataFrame:
    """Explicit-file-list read of one table of a committed manifest,
    with an EXPLICIT schema: partition columns come from directory
    names, data columns from the files, and a file written before a
    column existed yields nulls for it — deterministic under schema
    evolution, no mergeSchema footer sweep, no partition-discovery job
    (the manifest IS the file index). ``keep(relative_partition_dir)``
    prunes partitions before any filesystem touch."""
    base = posixpath.join(root, tbl)
    paths = [
        posixpath.join(base, key, fname)
        for key, fname in sorted(manifest["tables"][tbl].items())
        if keep is None or keep(key)
    ]
    if not paths:
        # pruned to nothing (or an empty table): an empty frame of the
        # right schema, no filesystem touch
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", base).parquet(*paths)


def vacuum(root: str, tables: tuple[str, ...], retain: int) -> dict:
    """Delete data files of ``tables`` not referenced by the newest
    ``retain`` manifests, manifests older than those, and orphaned task
    temp files — the Delta/Iceberg VACUUM contract. NOT part of the
    batch path; must not run concurrently with a reader pinned to a
    snapshot older than the retained window (same caveat as Delta).
    Returns {files_deleted, manifests_deleted, retained_versions}; a
    version in the window whose manifest an earlier, narrower vacuum
    already deleted is skipped and not reported as retained."""
    if retain < 1:
        raise ValueError("retain must be >= 1")
    latest = current_version(root)
    if latest is None:
        return {"files_deleted": 0, "manifests_deleted": 0,
                "retained_versions": []}
    fs, base, _ = resolve_fs(root)
    manifests = {}
    for v in range(max(1, latest - retain + 1), latest + 1):
        raw = fs_read(fs, _manifest_file(base, v))
        if raw is not None:
            manifests[v] = json.loads(raw.decode())
    keep = {
        posixpath.join(tbl, key, fname)
        for m in manifests.values()
        for tbl in tables
        for key, fname in m["tables"][tbl].items()
    }
    files_deleted = 0
    for info in _table_files(fs, base, tables):
        rel = posixpath.relpath(info.path, base)
        if rel not in keep and _OURS.fullmatch(posixpath.basename(info.path)):
            fs.delete_file(info.path)
            files_deleted += 1
    manifests_deleted = 0
    sel = pafs.FileSelector(
        posixpath.join(base, MANIFEST_DIR), allow_not_found=True
    )
    for info in fs.get_file_info(sel):
        name = posixpath.basename(info.path)
        if name.startswith("v") and name.endswith(".json"):
            if int(name[1:-5]) not in manifests:
                fs.delete_file(info.path)
                manifests_deleted += 1
    return {
        "files_deleted": files_deleted,
        "manifests_deleted": manifests_deleted,
        "retained_versions": list(manifests),
    }


# ---------------------------------------------------------------------------
# versioned per-partition writer (task-side, pyarrow.fs)
# ---------------------------------------------------------------------------


def write_partition_files(
    batches, root: str, fname: str, drop_cols: tuple[str, ...]
):
    """Task body of :func:`write_partitions` (module-level so the
    object-store branch is unit-testable in-process against a mock
    filesystem): stream Arrow batches into one ``fname`` parquet file
    per distinct ``__pkey`` (the relative partition directory), then
    publish — temp+rename on local filesystems, direct write elsewhere.
    Rows flagged ``_tomb`` register their partition in the report
    WITHOUT contributing data (and without creating a file if nothing
    live lands there): that is how a drained partition gets REMOVED
    from the manifest. Yields one (part, n_rows) report batch."""
    import pyarrow as _pa
    import pyarrow.compute as _pc
    import pyarrow.parquet as _pq

    fs, base, local = resolve_fs(root)
    # key -> [writer|None, tmp, final, n_rows, part_dir, schema]
    state: dict[str, list] = {}
    for batch in batches:
        tbl = _pa.Table.from_batches([batch])
        for key in _pc.unique(tbl[PKEY]).to_pylist():
            sub = tbl.filter(_pc.equal(tbl[PKEY], key))
            live = sub.filter(_pc.equal(sub[TOMB], False)).drop_columns(
                list(drop_cols)
            )
            if key not in state:
                part_dir = f"{base}/{key}"
                final = f"{part_dir}/{fname}"
                tmp = (
                    f"{part_dir}/.tmp-{uuid.uuid4().hex}" if local else final
                )
                state[key] = [None, tmp, final, 0, part_dir, live.schema]
            if live.num_rows:
                st = state[key]
                if st[0] is None:
                    fs.create_dir(st[4], recursive=True)
                    st[0] = _pq.ParquetWriter(st[1], st[5], filesystem=fs)
                st[0].write_table(live)
                st[3] += live.num_rows
    keys, rows = [], []
    for key, (w, tmp, final, n, _pd, _sc) in sorted(state.items()):
        if w is not None:
            w.close()
            if tmp != final:
                fs.move(tmp, final)  # same-directory atomic replace
        keys.append(key)
        rows.append(n)
    if keys:
        yield _pa.RecordBatch.from_arrays(
            [_pa.array(keys, _pa.string()), _pa.array(rows, _pa.int64())],
            names=["part", "n_rows"],
        )


def write_partitions(
    spark: SparkSession,
    root: str,
    manifest: dict,
    tbl: str,
    live: DataFrame,
    part_cols: list[str],
    touched: list[tuple],
) -> None:
    """Rewrite the ``touched`` partitions (tuples of ``part_cols``
    values) of table ``tbl`` from ``live`` — ONE data file per
    partition at ``manifest['version']``, via executor-side pyarrow —
    and point ``manifest`` at the new files. A touched partition that
    ``live`` leaves empty is REMOVED from the manifest: every touched
    partition is registered by a tombstone row (all-null data, ``_tomb``
    set) that reaches the writer without contributing data.

    Why not ``partitionOverwriteMode=dynamic``: its job commit renames
    one staged directory per touched partition, sequentially, on the
    driver — ~15-20 ms each on a local FS (a round-trip on an object
    store); an upsert batch touching all 256 coarse cells paid ~4-5 s of
    pure commit per write in round 10. Here the repartition-by-key
    shuffle gives every partition value to exactly one task, tasks write
    and publish in parallel, and the MANIFEST (not the filesystem
    listing) is the committed file index — so a crashed task's partial
    file is invisible and a retry simply rewrites it.
    """
    fname = f"part-v{manifest['version']:08d}.parquet"
    tomb = spark.createDataFrame(
        touched,
        StructType([StructField(c, live.schema[c].dataType) for c in part_cols]),
    ).select(
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in live.schema.fields
            if f.name not in part_cols
        ],
        *part_cols,
    )
    pkey = F.concat_ws(
        "/", *[F.concat(F.lit(f"{c}="), F.col(c).cast("string")) for c in part_cols]
    )
    drop = tuple([PKEY, TOMB, *part_cols])
    table_root = posixpath.join(root, tbl)
    reports = (
        live.withColumn(TOMB, F.lit(False))
        .unionByName(tomb.withColumn(TOMB, F.lit(True)))
        .withColumn(PKEY, pkey)
        .repartition(F.col(PKEY))
        .mapInArrow(
            lambda it: write_partition_files(it, table_root, fname, drop),
            "part string, n_rows long",
        )
        .collect()
    )
    entries = manifest["tables"][tbl]
    for r in reports:
        if r["n_rows"] > 0:
            entries[r["part"]] = fname
        else:
            entries.pop(r["part"], None)
