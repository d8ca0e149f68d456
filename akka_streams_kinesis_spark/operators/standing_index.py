"""The standing ANN index's lifecycle as registry queries: the upsert
and CDC-delete drains that maintain it, marker compaction and VACUUM,
the cell-pruned search and its recall sweep, serve-during-drain and
time travel — each gated by a DuckDB oracle recomputed from the parquet
source alone.

The index itself (IVF assignment, the per-batch merge, readers) is
``streaming/ann_index.py``; its on-disk format and commit protocol are
``streaming/snapshot_store.py``. The upsert streams come from the same
simulated-stream put path as ``operators/streaming_queries.py``, whose
two arrival timestamps and put-file listing this module shares. Drained
indexes that several queries read are ``derived_dir`` caches; every
index a query writes on each call lives in a ``scratch_dir``.
"""

from __future__ import annotations

import os
import posixpath
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession, Window

from ..io import derived_dir, table
from ..registry import query
from ..shared import _persist, scratch_dir, shared_frame, transient_persist
from ..sources.kinesis_sim import SimStream, TrimHorizon
from ..streaming.ann_index import (
    CELL_CAP,
    COARSE_BITS,
    MAX_BITS,
    N_ID_BUCKETS,
    TABLES,
    assign_cells,
    compact_markers,
    index_merger,
    load_snapshot,
    probe_cells,
    read_directory,
    read_idmap,
    read_store,
    sign_code,
    vacuum,
)
from ..streaming.drain import drain
from ..streaming.snapshot_store import current_version, resolve_fs
from ..streaming.windows import decode_json_payload
from .similarity import _DIM, cosine_sim
from .streaming_queries import _T1, _T2, _put_files


# ---------------------------------------------------------------------------
# stream_ann_index_upsert — incrementally-maintained IVF index (round 10)
# ---------------------------------------------------------------------------

_ANN_UPD_MOD = 7  # vec_id % 7 == 0 receive a changed (negated) embedding


def _sign_bits_sql(flip: str, n: int) -> str:
    """DuckDB sign code of ``embedding``'s first ``n`` dims, with the
    vector negated where the SQL condition ``flip`` holds."""
    return " || ".join(
        f"(CASE WHEN (CASE WHEN {flip} "
        f"THEN embedding[{i + 1}] <= 0 ELSE embedding[{i + 1}] >= 0 END) "
        f"THEN '1' ELSE '0' END)"
        for i in range(n)
    )


def _probe_sql() -> tuple[str, str]:
    """DuckDB (coarse-cell Hamming distance q.c8↔v.c8, signed cosine
    q↔v) expressions shared by the standing-index search oracles."""
    ham = " + ".join(
        f"(CASE WHEN SUBSTRING(q.c8, {i + 1}, 1) <> SUBSTRING(v.c8, {i + 1}, 1) "
        f"THEN 1 ELSE 0 END)"
        for i in range(COARSE_BITS)
    )
    sim = (
        "(q.s * v.s) * ("
        "SUM(CAST(q.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)) / "
        "(SQRT(SUM(CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) * "
        "SQRT(SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)))))"
    )
    return ham, sim


def _ann_oracle(
    flip: str = f"vec_id % {_ANN_UPD_MOD} = 0", live: str | None = None
) -> str:
    """DuckDB full-rebuild oracle for the incremental IVF directory: the
    canonical hot-cell-split assignment computed from scratch over the
    FINAL corpus — the embeddings where the SQL predicate ``live`` holds
    (all by default), negated where ``flip`` holds (by default
    vec_id % 7 == 0; sign-exact without materializing the negated
    arrays)."""
    bits = _sign_bits_sql(flip, MAX_BITS)
    count_cols = ", ".join(
        f"COUNT(*) OVER (PARTITION BY SUBSTRING(code, 1, {d})) AS n{d}"
        for d in range(COARSE_BITS, MAX_BITS)
    )
    whens = " ".join(
        f"WHEN n{d} <= {CELL_CAP} THEN SUBSTRING(code, 1, {d})"
        for d in range(COARSE_BITS, MAX_BITS)
    )
    src, live_cte = "embeddings", ""
    if live is not None:
        src, live_cte = "live", f"""live AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE {live}
    ), """
    return f"""
    WITH {live_cte}coded AS (
        SELECT vec_id, {bits} AS code FROM {src}
    ), counted AS (
        SELECT vec_id, code, {count_cols} FROM coded
    ), assigned AS (
        SELECT CASE {whens} ELSE code END AS cell FROM counted
    )
    SELECT cell, CAST(LENGTH(cell) AS INT) AS depth,
           COUNT(*) AS n_vecs
    FROM assigned GROUP BY cell
    """


def _encode_vectors(df: DataFrame, seq: int, deleted: bool | None = None) -> DataFrame:
    """(vec_id, seq, embedding[, deleted]) JSON put-records keyed by vec_id."""
    fields = ["vec_id", F.lit(seq).alias("seq"), "embedding"]
    if deleted is not None:
        fields.append(F.lit(deleted).alias("deleted"))
    return df.select(
        F.col("vec_id").cast("string").alias("partition_key"),
        F.encode(F.to_json(F.struct(*fields)), "utf-8").alias("data"),
    )


def _ann_upsert_stream(spark: SparkSession, sf_dir: str) -> SimStream:
    """Cached 2-shard upsert stream for the standing IVF index:
    the whole embeddings corpus at seq 0, then every
    vec_id % {_ANN_UPD_MOD} == 0 re-delivered with a CHANGED (negated)
    embedding at seq 1. Shared by the maintenance drain
    (stream_ann_index_upsert) and the search path
    (similarity_standing_index_topk) so both gates exercise the SAME
    upsert history."""
    def build(path: str) -> None:
        stream = SimStream.create(path, n_shards=2)
        e = table(spark, sf_dir, "embeddings")
        stream.put_records_distributed(_encode_vectors(e, 0), ts=_T1)
        updates = e.filter(F.col("vec_id") % _ANN_UPD_MOD == 0).withColumn(
            "embedding", F.transform("embedding", lambda x: -x)
        )
        stream.put_records_distributed(_encode_vectors(updates, 1), ts=_T2)

    return SimStream(derived_dir(spark, sf_dir, "stream_annupsert", build))


def _ann_upserts_df(
    spark: SparkSession,
    stream: SimStream,
    cdc: bool = False,
    files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming (vec_id, seq, code, embedding) upserts from the cached
    stream (plus a non-null ``deleted`` flag when ``cdc``), chopped by
    ``files_per_trigger`` — by default into ~2 micro-batches (the natural
    seq-0-corpus / seq-1-updates arrival split). Finer chopping plus
    at-least-once redelivery is property-tested in tests/test_ann_index.py
    — every chopping must yield the same index (latest-wins is associative /
    commutative / idempotent); the gated drain itself uses the coarse
    chop because per-batch cost is dominated by the store's
    per-partition-dir commits, pure fixed overhead the bench should not
    multiply 5×. The embedding decodes as array<float> — float
    shortest-repr JSON round-trips EXACTLY (Float.toString guarantees a
    decimal that parses back to the same float), so the stored vector is
    bit-identical to the parquet source and a DuckDB oracle reading the
    parquet directly can hash-match similarities computed from the
    store."""
    if files_per_trigger is None:
        files_per_trigger = max(1, -(-len(_put_files(stream)) // 2))
    records = stream.read_stream(
        spark, TrimHorizon(), max_files_per_trigger=files_per_trigger
    )
    schema = "vec_id long, seq long, embedding array<float>"
    cols = ["vec_id", "seq", sign_code("embedding").alias("code"), "embedding"]
    if cdc:
        schema += ", deleted boolean"
        cols.append(F.coalesce("deleted", F.lit(False)).alias("deleted"))
    return decode_json_payload(records, schema).select(*cols)


def _drain_index(
    spark: SparkSession, stream: SimStream, root: str, cdc: bool = False
) -> None:
    """Drain ``stream``'s upserts (``cdc``: with delete flags) into a
    fresh index at ``root`` through the foreachBatch merge."""
    drain(_ann_upserts_df(spark, stream, cdc=cdc), index_merger(spark, root))


def _rebuilt_directory(
    spark: SparkSession, root: str, corpus: DataFrame, flip, what: str
) -> DataFrame:
    """Rebuild-equivalence (RAISES on violation, so rows-only runs still
    exercise it): the incremental directory at ``root`` must equal a
    from-scratch rebuild of ``corpus`` (``flip`` marks negated vectors),
    compared in ONE full-outer-join pass (directory rows are unique per
    cell on both sides). Returns the incremental directory."""
    rebuilt = (
        assign_cells(
            corpus.select(
                "vec_id", sign_code("embedding", flip=flip).alias("code")
            )
        )
        .groupBy("cell", "depth")
        .agg(F.count("*").alias("n_vecs"))
    )
    incremental = read_directory(spark, root)
    r, i = rebuilt.alias("r"), incremental.alias("i")
    diff = (
        r.join(i, F.col("r.cell") == F.col("i.cell"), "full")
        .filter(
            ~(
                F.col("r.depth").eqNullSafe(F.col("i.depth"))
                & F.col("r.n_vecs").eqNullSafe(F.col("i.n_vecs"))
            )
        )
        .count()
    )
    if diff:
        raise RuntimeError(
            f"{what} directory diverges from full rebuild: "
            f"{diff} differing cells — rebuild-equivalence violated"
        )
    return incremental


def _verify_ann_index(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Post-drain invariants (both RAISE on violation, so rows-only runs
    still exercise them): (1) the store holds exactly one live row per
    vec_id (latest-wins by seq); (2) rebuild-equivalence over the final
    corpus (original parquet + update rule). Returns the incremental
    directory."""
    dup = (
        read_store(spark, root)
        .groupBy("vec_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    if dup:
        raise RuntimeError(
            f"ann index store holds {dup} duplicate vec_ids after drain"
        )
    return _rebuilt_directory(
        spark,
        root,
        table(spark, sf_dir, "embeddings"),
        F.col("vec_id") % _ANN_UPD_MOD == 0,
        "incremental IVF",
    )


@query("stream_ann_index_upsert", oracle=_ann_oracle())
def stream_ann_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance (round-9 VERDICT ask #4): a
    stream of embedding upserts — the whole corpus at seq 0, then every
    vec_id % 7 == 0 re-delivered with a CHANGED (negated) embedding at
    seq 1 — drives a foreachBatch upsert of a standing IVF index
    (streaming/ann_index.py): changed vectors are re-assigned to their
    new cells (and removed from their old ones via the id→cell sidecar),
    per-cell stats are refreshed, and hot cells split by sign-code
    refinement (depth 8 → 12, cap CELL_CAP per subtree).

    Rebuild-equivalence invariant (RAISES on violation, so sf1
    rows-only runs still exercise it): the cell assignment is a pure
    function of the final corpus multiset, so after the drain the
    incremental directory must equal a full from-scratch rebuild of the
    final corpus — computed here engine-internally from the original
    parquet + update rule, and independently by the DuckDB oracle. The
    store must also hold exactly one row per vec_id (latest-wins by
    seq; associative/commutative/idempotent, hence micro-batch-chopping
    and at-least-once-replay proof).

    Scale shape: per batch O(touched cells), never O(corpus) — see the
    module docstring; subtree counts re-join by broadcast (≤ 2^12 rows
    at ANY corpus size), so the corpus is never shuffled. The index is
    rebuilt in a fresh ``scratch_dir`` per call, so the returned
    directory frame stays lazily readable until release_shared().

    Reference parity: none for the index (SURVEY §2.D north-star); the
    produce path is the reference's put pipeline (W2/W9), and the replay
    discipline mirrors tests/test_pyds_source.py applied to index state.
    """
    root = os.path.join(scratch_dir("annidx"), "index")
    _drain_index(spark, _ann_upsert_stream(spark, sf_dir), root)
    return _verify_ann_index(spark, sf_dir, root)


# ---------------------------------------------------------------------------
# stream_ann_index_cdc_deletes — DELETE path for the standing index (round 11)
# ---------------------------------------------------------------------------

_ANN_DEL_MOD = 13  # vec_id % 13 == 0 receive a CDC delete at seq 2;
#                    the EVEN ones among them re-insert (original
#                    embedding) at seq 3 — the resurrection-legality case


def _ann_cdc_stream(spark: SparkSession, sf_dir: str) -> SimStream:
    """Cached CDC scenario stream (corpus seq0, negated %7 seq1,
    before-image deletes of %13 at seq2, even-%13 re-inserts at seq3).
    Shared by the delete drain and the marker-compaction query."""
    def build(path: str) -> None:
        stream = SimStream.create(path, n_shards=2)
        e = table(spark, sf_dir, "embeddings")
        stream.put_records_distributed(_encode_vectors(e, 0, False), ts=_T1)
        negated = e.filter(F.col("vec_id") % _ANN_UPD_MOD == 0).withColumn(
            "embedding", F.transform("embedding", lambda x: -x)
        )
        stream.put_records_distributed(_encode_vectors(negated, 1, False), ts=_T1)
        # CDC deletes carry the before-image (the embedding as of seq 1)
        doomed = e.filter(F.col("vec_id") % _ANN_DEL_MOD == 0).withColumn(
            "embedding",
            F.when(
                F.col("vec_id") % _ANN_UPD_MOD == 0,
                F.transform("embedding", lambda x: -x),
            ).otherwise(F.col("embedding")),
        )
        stream.put_records_distributed(_encode_vectors(doomed, 2, True), ts=_T2)
        reborn = e.filter(
            (F.col("vec_id") % _ANN_DEL_MOD == 0) & (F.col("vec_id") % 2 == 0)
        )
        stream.put_records_distributed(_encode_vectors(reborn, 3, False), ts=_T2)

    return SimStream(derived_dir(spark, sf_dir, "stream_anncdc", build))


# oracle: the LIVE final corpus of the CDC scenario — %7 negation applies
# to survivors, %13 ids are deleted, the even %13 ids re-insert with their
# ORIGINAL embedding
@query(
    "stream_ann_index_cdc_deletes",
    oracle=_ann_oracle(
        f"vec_id % {_ANN_UPD_MOD} = 0 AND vec_id % {_ANN_DEL_MOD} <> 0",
        live=f"vec_id % {_ANN_DEL_MOD} <> 0 OR vec_id % 2 = 0",
    ),
)
def stream_ann_index_cdc_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC DELETE path for the standing IVF index — the lifecycle leg
    the upsert/search pair doesn't cover: the corpus arrives at seq 0,
    every vec_id % 7 == 0 re-delivers negated at seq 1, every
    vec_id % {_ANN_DEL_MOD} == 0 receives a Debezium-style delete at
    seq 2 (before-image embedding, ``deleted = true``), and the EVEN
    deleted ids re-insert their ORIGINAL embedding at seq 3.

    Delete markers are retained in the store as data and excluded from
    directory counts and ``read_store`` output — physical removal would
    let a replayed older insert resurrect the vector, retained markers
    make deletes commute with redelivery exactly like every other
    latest-wins record (the seq-3 re-insert legitimately beating the
    seq-2 delete is the same mechanism, exercised on purpose).

    RAISES unless (1) the store holds exactly one row per vec_id
    including markers, (2) no deleted-and-not-reinserted id is visible
    to consumers while every such id IS present as a marker, and
    (3) the directory equals a from-scratch rebuild of the live final
    corpus — which the DuckDB oracle recomputes independently.

    Scale shape: identical to stream_ann_index_upsert (per batch
    O(touched cells), markers ride the same merge); the marker
    retention cost is one row per deleted id until a compaction policy
    reclaims it.

    Reference parity: none (SURVEY §2.D north-star); the delete model
    is the CDC before-image convention, chosen precisely because it
    keeps the merge a pure latest-wins fold."""
    root = os.path.join(scratch_dir("anncdc"), "index")
    _drain_index(spark, _ann_cdc_stream(spark, sf_dir), root, cdc=True)

    # (1)+(2) in ONE marker-inclusive store scan (was three jobs each
    # re-reading the store): per-id duplicate detection, dead ids
    # visible to consumers (read_store(markers=False) is exactly the
    # live_flag filter below), and retained delete-marker count
    everything = read_store(spark, root, markers=True)
    dead = (F.col("vec_id") % _ANN_DEL_MOD == 0) & (F.col("vec_id") % 2 == 1)
    live_flag = ~F.coalesce(F.col("deleted"), F.lit(False))
    checks = (
        everything.groupBy("vec_id")
        .agg(
            F.count("*").alias("n"),
            F.sum((live_flag & dead).cast("long")).alias("vis_dead"),
            F.sum(
                (dead & F.coalesce(F.col("deleted"), F.lit(False))).cast("long")
            ).alias("markers"),
        )
        .agg(
            F.sum((F.col("n") > 1).cast("long")).alias("dup"),
            F.sum("vis_dead").alias("visible_dead"),
            F.sum("markers").alias("n_markers"),
        )
        .collect()[0]
    )
    dup = checks["dup"] or 0
    if dup:
        raise RuntimeError(f"cdc store holds {dup} duplicate vec_ids")
    visible_dead = checks["visible_dead"] or 0
    if visible_dead:
        raise RuntimeError(
            f"{visible_dead} deleted ids visible to consumers"
        )
    e = table(spark, sf_dir, "embeddings")
    n_dead = e.filter(dead).count()
    n_markers = checks["n_markers"] or 0
    if n_markers != n_dead:
        raise RuntimeError(
            f"expected {n_dead} retained delete markers, found {n_markers} "
            f"— a replayed insert could resurrect the difference"
        )
    # (3) rebuild equivalence over the LIVE final corpus
    live_src = e.filter(
        (F.col("vec_id") % _ANN_DEL_MOD != 0) | (F.col("vec_id") % 2 == 0)
    )
    flip = (F.col("vec_id") % _ANN_UPD_MOD == 0) & (
        F.col("vec_id") % _ANN_DEL_MOD != 0
    )
    return _rebuilt_directory(spark, root, live_src, flip, "cdc")


# ---------------------------------------------------------------------------
# maintenance_ann_marker_compaction — reclaim delete markers (round 11)
# ---------------------------------------------------------------------------


def _scratch_copy(src: str, work: str) -> None:
    """Scratch copy of a cached index tree for an in-place maintenance
    run: hardlink files instead of copying bytes (metadata-only, O(files)
    not O(bytes)). Safe because every writer in the index layer publishes
    via tmp + rename (snapshot_store: ``fs.move`` same-directory replace)
    and vacuum only unlinks — a replaced or deleted scratch file swaps
    the scratch DIRECTORY ENTRY while the cached source inode keeps its
    own link; nothing ever appends to or truncates a published file.
    Falls back to a byte copy if linking fails (cross-device scratch)."""
    def _link_or_copy(s: str, d: str, *, follow_symlinks: bool = True) -> None:
        try:
            os.link(s, d)
        except OSError:
            shutil.copy2(s, d, follow_symlinks=follow_symlinks)

    shutil.copytree(src, work, copy_function=_link_or_copy)


def _ensure_standing_index(
    spark: SparkSession, sf_dir: str, cdc: bool = False
) -> str:
    """Cached standing IVF index, built once per derived_dir key by
    draining the SAME upsert stream (``cdc``: the CDC stream) through the
    SAME foreachBatch merge as the gated drain — the search and
    maintenance queries consume the tables the drain produces (round-10
    VERDICT ask #1), they never get a privileged rebuild. Safe to cache
    across runs: the index is a pure function of the final corpus
    (canonical assignment); the upsert index runs the
    rebuild-equivalence gate once, inside the build. Maintenance
    queries (compaction, vacuum) work on a fresh COPY so every run is
    deterministic. bench.py builds the upsert index in its untimed
    warm-up (index construction is the stream section's job to measure;
    the headline entry measures SEARCH)."""
    def build(base: str) -> None:
        root = os.path.join(base, "index")
        stream = (_ann_cdc_stream if cdc else _ann_upsert_stream)(spark, sf_dir)
        _drain_index(spark, stream, root, cdc)
        if not cdc:
            _verify_ann_index(spark, sf_dir, root)

    name = "anncdc_standing" if cdc else "annidx_standing"
    return os.path.join(derived_dir(spark, sf_dir, name, build), "index")


def _compaction_oracle() -> str:
    """DuckDB twin of the compaction report, computed from the CDC
    scenario's rules alone: dropped markers = the dead ids (%13, odd),
    rewritten cells = their markers' coarse cells (before-image codes,
    so %7 negation applies), live stats over the surviving corpus."""
    dead_bits = _sign_bits_sql(f"vec_id % {_ANN_UPD_MOD} = 0", COARSE_BITS)
    live_bits = _sign_bits_sql(
        f"vec_id % {_ANN_UPD_MOD} = 0 AND vec_id % {_ANN_DEL_MOD} <> 0", COARSE_BITS
    )
    return f"""
    WITH dead AS (
        SELECT 'b' || {dead_bits} AS c8 FROM embeddings
        WHERE vec_id % {_ANN_DEL_MOD} = 0 AND vec_id % 2 = 1
    ), live AS (
        SELECT 'b' || {live_bits} AS c8 FROM embeddings
        WHERE vec_id % {_ANN_DEL_MOD} <> 0 OR vec_id % 2 = 0
    )
    SELECT CAST((SELECT COUNT(*) FROM dead) AS BIGINT) AS n_markers_dropped,
           CAST((SELECT COUNT(DISTINCT c8) FROM dead) AS BIGINT) AS n_cells_rewritten,
           CAST((SELECT COUNT(*) FROM live) AS BIGINT) AS n_live_vectors,
           CAST((SELECT COUNT(DISTINCT c8) FROM live) AS BIGINT) AS n_live_coarse_cells
    """


@query("maintenance_ann_marker_compaction", oracle=_compaction_oracle())
def maintenance_ann_marker_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker compaction for the standing ANN index — the retention leg
    of the CDC delete contract: markers older than the redelivery
    horizon are reclaimed in place, partition-pruned to the cells that
    hold them, and the dropped ids leave the idmap in the same pass
    (ids are anti-joined distributively, never collected). Works on a
    fresh copy of the cached post-drain snapshot so every run compacts
    the same input.

    RAISES unless (1) no droppable marker survives the pass, (2) the
    consumer-visible row count is unchanged (compaction must never
    touch live data), and (3) the report matches the scenario's
    arithmetic — which the DuckDB oracle recomputes from the update
    rules alone. Returns the one-row report
    (n_markers_dropped, n_cells_rewritten, n_live_vectors,
    n_live_coarse_cells).

    Scale shape: one bounded stats collect (≤ 256×16 rows), rewrite of
    only the marker-bearing cells and id-buckets via the atomic
    per-cell file writer, directory untouched (it never counted
    markers). The idmap leg reads only the touched buckets.

    Reference parity: none (SURVEY §2.D north-star); the
    rewrite-and-verify discipline mirrors maintenance_delete_vectors_mor's
    compaction-equivalence gate applied to index state."""
    src = _ensure_standing_index(spark, sf_dir, cdc=True)
    work = os.path.join(scratch_dir("anncdc_compact"), "index")
    _scratch_copy(src, work)
    live_pre = read_store(spark, work).count()
    report = compact_markers(spark, work, horizon_seq=3)
    # all three post-compaction checks come from ONE marker-inclusive
    # scan (read_store(markers=False) is exactly the live_flag filter
    # below, see read_store): droppable-marker leftovers, the live row
    # count, and the live distinct-cell count — was 3 separate jobs
    # each re-reading the rewritten store
    live_flag = ~F.coalesce(F.col("deleted"), F.lit(False))
    post = (
        read_store(spark, work, markers=True)
        .agg(
            F.sum(
                (F.coalesce(F.col("deleted"), F.lit(False)) & (F.col("seq") < 3))
                .cast("long")
            ).alias("leftovers"),
            F.sum(live_flag.cast("long")).alias("n_live"),
            F.count_distinct(
                F.when(live_flag, F.col("c8"))
            ).alias("n_cells"),
        )
        .collect()[0]
    )
    leftovers = post["leftovers"] or 0
    if leftovers:
        raise RuntimeError(
            f"{leftovers} droppable markers survived compaction"
        )
    n_live = post["n_live"] or 0
    if n_live != live_pre:
        raise RuntimeError(
            f"compaction changed the consumer view: {live_pre} -> {n_live}"
        )
    n_cells = post["n_cells"]
    return spark.createDataFrame(
        [
            (
                report["n_markers_dropped"],
                report["n_cells_rewritten"],
                n_live,
                n_cells,
            )
        ],
        "n_markers_dropped long, n_cells_rewritten long, "
        "n_live_vectors long, n_live_coarse_cells long",
    )


# ---------------------------------------------------------------------------
# similarity_standing_index_topk — SEARCH over the standing index (round 11)
# ---------------------------------------------------------------------------

_SI_NQ = 8       # query set = vec_id < 8, looked up IN the standing index
_SI_K = 10       # result size per query
_SI_RADIUS = 2   # multi-probe Hamming radius over the 8-bit coarse cell


def _standing_topk_oracle() -> str:
    """DuckDB twin of the standing-index search: recompute the final
    corpus (vec_id % {mod} negated), its coarse cells, the radius-{r}
    probe sets, the cell-pruned candidate ranking AND the brute-force
    exact ranking — all from the parquet source, independent of the
    incremental index. Signs factor out of IEEE arithmetic exactly
    ((-a)*b = -(a*b), and negation commutes with addition), so the
    oracle multiplies s_q*s_v into the dot product of the ORIGINAL
    floats instead of materializing negated arrays."""
    bits = _sign_bits_sql(f"vec_id % {_ANN_UPD_MOD} = 0", COARSE_BITS)
    ham, sim = _probe_sql()
    return f"""
    WITH coded AS (
        SELECT vec_id, embedding,
               CASE WHEN vec_id % {_ANN_UPD_MOD} = 0 THEN -1 ELSE 1 END AS s,
               {bits} AS c8
        FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, embedding, s, c8
        FROM coded WHERE vec_id < {_SI_NQ}
    ), pairs AS (
        SELECT q.query_id, v.vec_id,
               (({ham}) <= {_SI_RADIUS}) AS probed,
               ROUND({sim}, 6) AS sim
        FROM q CROSS JOIN coded v
        CROSS JOIN UNNEST(RANGE(1, {_DIM + 1})) AS t(i)
        GROUP BY q.query_id, v.vec_id, q.c8, v.c8, q.s, v.s
    ), ncand AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_cand
        FROM pairs WHERE probed GROUP BY query_id
    ), ann AS (
        SELECT query_id, vec_id, sim,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY sim DESC, vec_id
               ) AS rnk
        FROM pairs WHERE probed AND vec_id <> query_id
    ), exact AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY sim DESC, vec_id
                   ) AS rnk
            FROM pairs WHERE vec_id <> query_id
        ) WHERE rnk <= {_SI_K}
    )
    SELECT a.query_id, a.rnk, a.vec_id, a.sim,
           (e.vec_id IS NOT NULL) AS hit_exact, n.n_cand
    FROM ann a
    JOIN ncand n ON n.query_id = a.query_id
    LEFT JOIN exact e ON e.query_id = a.query_id AND e.vec_id = a.vec_id
    WHERE a.rnk <= {_SI_K}
    """


def _si_probe(
    spark: SparkSession, root: str, snap, max_r: int
) -> tuple[DataFrame, list[str]]:
    """Query-cell lookup through the idmap sidecar (manifest-pruned to
    the query ids' buckets — never a corpus scan; bounded collect:
    _SI_NQ rows) + driver-side multi-probe expansion (≤ _SI_NQ × 37
    cells at radius 2). Returns the probe frame
    (query_id, c8, dist — per-cell Hamming distance ≤ max_r) and the
    sorted union of probed cells."""
    q_idbs = sorted({i % N_ID_BUCKETS for i in range(_SI_NQ)})
    q_cells = {
        r["vec_id"]: r["c8"]
        for r in read_idmap(spark, root, q_idbs, snapshot=snap)
        .filter(F.col("vec_id") < _SI_NQ)
        .collect()
    }
    if len(q_cells) != _SI_NQ:
        raise RuntimeError(
            f"standing index idmap resolves {len(q_cells)}/{_SI_NQ} "
            f"query ids — index incomplete"
        )
    pairs = [
        (qid, cell, sum(a != b for a, b in zip(cell[1:], c8[1:])))
        for qid, c8 in sorted(q_cells.items())
        for cell in probe_cells(c8, max_r)
    ]
    probe_df = spark.createDataFrame(
        pairs, "query_id long, c8 string, dist int"
    )
    probed = sorted({c for _, c, _ in pairs})
    return probe_df, probed


def _si_dir_counts(
    spark: SparkSession, root: str, snap, probe_df: DataFrame
) -> DataFrame:
    """Per-query candidate volume summed FROM THE DIRECTORY over the
    probe set (metadata-sized read off the pinned manifest)."""
    d8 = read_directory(spark, root, snapshot=snap).select(
        F.concat(F.lit("b"), F.substring("cell", 1, COARSE_BITS)).alias("c8"),
        "n_vecs",
    )
    return (
        d8.join(F.broadcast(probe_df.select("query_id", "c8")), "c8")
        .groupBy("query_id")
        .agg(F.sum("n_vecs").alias("n_cand"))
    )


def _si_cand_checked(
    spark: SparkSession,
    root: str,
    snap,
    probe_df: DataFrame,
    probed: list[str],
    shared: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The pruned candidate scan joined to the probe frame, persisted,
    with the armed directory-vs-scan consistency check: the DIRECTORY's
    per-cell counts over the probe set must equal what the pruned scan
    actually returned — a stale directory (or stale store partition)
    RAISES here instead of silently mis-ranking.

    ``shared=True`` (r13) caches the checked frame via shared_frame
    keyed on root@version+radius set: the standing-index topk and the
    recall sweep probe the SAME radius-2 cells of the SAME immutable
    cached index — one pruned scan + one armed check per session
    instead of two. Never used for scratch/drain roots, whose files
    change under the same path between calls."""
    def build() -> DataFrame:
        pruned = read_store(spark, root, cells=probed, snapshot=snap).select(
            "vec_id", "c8", "embedding"
        )
        # consumed repeatedly (count self-check, query extraction,
        # rerank): one persist instead of repeated pruned scans
        cand = _persist(pruned.join(F.broadcast(probe_df), "c8"))
        n_scan = cand.groupBy("query_id").agg(F.count("*").alias("n_scan"))
        bad = (
            _si_dir_counts(spark, root, snap, probe_df)
            .join(n_scan, "query_id", "full")
            .filter(~F.col("n_cand").eqNullSafe(F.col("n_scan")))
            .count()
        )
        if bad:
            cand.unpersist()
            raise RuntimeError(
                f"standing index directory is inconsistent with the store "
                f"for {bad} queries — stale cell counts"
            )
        return cand

    if shared:
        key = f"{root}@v{snap.version}#cells{len(probed)}"
        cand = shared_frame(spark, "standing_cand_checked", key, build)
    else:
        # build() persists; registering with transient_persist keeps the
        # release_shared() lifecycle (persist() is idempotent)
        cand = transient_persist(build())
    return cand, _si_dir_counts(spark, root, snap, probe_df)


def _si_exact_anchor(
    spark: SparkSession, root: str, snap, q_emb: DataFrame
) -> DataFrame:
    """Brute-force exact top-{_SI_K} (query_id, vec_id) pairs over the
    full pinned store — the per-row recall evidence behind hit_exact —
    shared between similarity_standing_index_topk and the recall sweep
    (round-12 VERDICT ask #4: each rebuilt it from scratch) and computed
    with the _exact_gt_shared discipline (guide §4.2): one Arrow pass
    over the store, a numpy float64 GEMM per batch against the collected
    query matrix, a per-batch partial top-k with a provable safety
    margin, then the tiny global ROUND(sim,6)-ordered window in the JVM
    (O(#batches × _SI_NQ × _SI_K) rows, never N × _SI_NQ). Replaces the
    BroadcastNestedLoopJoin + interpreted 64-element aggregate/zip_with
    fold per (row, query) + full 8N-row window sort.

    Margin proof: the final order is ROUND(sim, 6) DESC, vec_id ASC.
    Rounding to 1e-6 moves a value by ≤ 5e-7, so a candidate v outranks
    x after rounding only if sim_v > sim_x − 1e-6 + (tie on vec_id). If
    ≥ _SI_K batch rows have raw sim > sim_x + 1.1e-6, all of them
    strictly outrank x after rounding and x cannot reach the global
    top-k; contrapositive: every global top-k member satisfies
    sim_x ≥ (batch k-th largest) − 1.1e-6, and the filter keeps
    everything within 1e-5 of the batch k-th — strictly wider. The
    float64 GEMM vs the JVM's left-to-right fold differ by ~1e-15
    relative (both exact to far below the 6-dp rounding), same accepted
    class as the r12 _exact_gt_shared rewrite; equivalence is pinned by
    test and by the oracle gates at every SF."""


    def build() -> DataFrame:
        qrows = q_emb.orderBy("query_id").collect()
        if len(qrows) != _SI_NQ:
            raise RuntimeError(
                f"standing index store resolves {len(qrows)}/{_SI_NQ} "
                f"query embeddings — index incomplete"
            )
        qids = np.array([int(r["query_id"]) for r in qrows], dtype=np.int64)
        qm = np.stack(
            [np.asarray(r["q_emb"], dtype=np.float64) for r in qrows]
        )
        qn = np.sqrt((qm * qm).sum(axis=1))

        def _scan(batches):
            for b in batches:
                if len(b) == 0:
                    continue
                ids = b["vec_id"].to_numpy()
                x = np.stack(b["embedding"].to_numpy()).astype(np.float64)
                sims = (qm @ x.T) / (
                    qn[:, None] * np.sqrt((x * x).sum(axis=1))[None, :]
                )
                out_q, out_v, out_s = [], [], []
                for qi in range(len(qids)):
                    keep = np.flatnonzero(ids != qids[qi])
                    vals = sims[qi, keep]
                    if len(vals) > _SI_K:
                        kth = np.partition(vals, len(vals) - _SI_K)[
                            len(vals) - _SI_K
                        ]
                        sel = np.flatnonzero(vals >= kth - 1e-5)
                        keep, vals = keep[sel], vals[sel]
                    out_q.append(np.full(len(keep), qids[qi], dtype=np.int64))
                    out_v.append(ids[keep])
                    out_s.append(vals)
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "vec_id": np.concatenate(out_v),
                        "sim_raw": np.concatenate(out_s),
                    }
                )

        partials = (
            read_store(spark, root, snapshot=snap)
            .select("vec_id", "embedding")
            .mapInPandas(
                _scan, schema="query_id long, vec_id long, sim_raw double"
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.round(F.col("sim_raw"), 6).desc(), F.col("vec_id")
        )
        return (
            partials.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _SI_K)
            .select("query_id", "vec_id")
        )

    return shared_frame(
        spark, "standing_exact_anchor", f"{root}@v{snap.version}", build
    )


def _standing_search(
    spark: SparkSession,
    root: str,
    snapshot=None,
    anchor: bool = True,
    shared: bool = False,
) -> DataFrame:
    """Cell-pruned top-k search against the standing index at ``root``
    (separated from the registry entry so tests can point it at a
    corrupted index copy and assert the consistency raise).

    Snapshot-pinned (round-12): ONE committed manifest is resolved up
    front and every read — idmap lookup, pruned candidate scan,
    directory counts, brute-force anchor — goes through it, so a search
    concurrent with an in-flight upsert batch reads the consistent
    PRE-batch snapshot (data files of a committed version are
    immutable) instead of racing half-written tables. The
    directory-vs-scan count check below stays armed as a writer-bug
    detector.

    ``snapshot`` pins the search to an explicit committed version (time
    travel / serve-during-maintenance); default resolves the newest.
    ``anchor=False`` skips the brute-force exact ranking (and its
    ``hit_exact`` column) — the serving-path shape, used where the
    recall anchor is measured elsewhere or would read a superseded
    corpus state. ``shared=True`` (r13, cached standing root
    only) shares the checked candidate frame and the exact anchor with
    the recall sweep via shared_frame."""
    snap = snapshot if snapshot is not None else load_snapshot(root)
    if snap is None:
        raise RuntimeError(
            f"standing index at {root!r} has no committed snapshot "
            f"— index incomplete"
        )
    # query lookup (idmap-pruned bounded collect) + driver-side
    # multi-probe expansion, then ONE partition-pruned store scan over
    # the union of probe cells — the manifest IS the file index, so
    # there is no partition-discovery job at all and the scan's file
    # list is exactly the probe set. The directory-vs-scan consistency
    # check inside _si_cand_checked stays armed (stale counts RAISE).
    probe_df, probed = _si_probe(spark, root, snap, _SI_RADIUS)
    cand, n_dir = _si_cand_checked(
        spark, root, snap, probe_df, probed, shared=shared
    )
    q_emb = cand.filter(
        (F.col("vec_id") == F.col("query_id")) & (F.col("vec_id") < _SI_NQ)
    ).select("query_id", F.col("embedding").alias("q_emb"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    sims = (
        cand.filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(q_emb), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_sim("q_emb", "embedding"), 6).alias("sim"),
        )
    )
    ann = (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _SI_K)
    )
    if not anchor:
        # serving-path shape: pruned scan + rerank only, no corpus-wide
        # exact pass (hit_exact recall evidence lives in the anchored
        # variant and the recall sweep)
        return ann.join(F.broadcast(n_dir), "query_id").select(
            "query_id", "rnk", "vec_id", "sim", "n_cand"
        )
    # brute-force exact anchor over the SAME standing store (full scan,
    # same pinned snapshot): the hit_exact flag is per-row recall
    # evidence, and because both rankings read the post-upsert store, a
    # stale stored vector flips the hash on BOTH paths
    exact = _si_exact_anchor(spark, root, snap, q_emb).select(
        F.col("query_id").alias("e_qid"), F.col("vec_id").alias("e_vid")
    )
    return (
        ann.join(
            F.broadcast(exact),
            (F.col("query_id") == F.col("e_qid"))
            & (F.col("vec_id") == F.col("e_vid")),
            "left",
        )
        .join(F.broadcast(n_dir), "query_id")
        .select(
            "query_id",
            "rnk",
            "vec_id",
            "sim",
            F.col("e_vid").isNotNull().alias("hit_exact"),
            "n_cand",
        )
    )


@query("similarity_standing_index_topk", oracle=_standing_topk_oracle())
def similarity_standing_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine search over the STANDING IVF index (round-10 VERDICT
    ask #1 — the index stream_ann_index_upsert maintains is now queried,
    not just maintained): resolve each query's coarse cell through the
    idmap sidecar (partition-pruned), expand to its Hamming-radius-
    {_SI_RADIUS} probe set (the multi-probe discipline measured by
    similarity_multiprobe_recall_sweep), scan ONLY those store
    partitions, exact-rerank in double precision, and flag each hit
    against the brute-force exact top-{_SI_K} on the same post-upsert
    corpus (hit_exact). n_cand — the per-query candidate volume — comes
    from the DIRECTORY and is asserted equal to the scanned count, so a
    stale directory cell RAISES instead of mis-ranking; the negated
    seq-1 updates are part of the corpus, so a stale stored vector
    flips the result hash.

    Scale shape: the ANN path reads |probe set| store partitions
    (≤ 37/256 of the corpus at radius 2) via static partition pruning,
    broadcasts only the query set and the tiny probe/count frames, and
    reranks with per-query windows over candidate lists — no corpus
    shuffle. The brute-force anchor is the eval-time recall baseline
    (same cost class as similarity_cosine_topk); a production serving
    path would drop it and keep the pruned scan.

    Reference parity: none (SURVEY §2.D north-star); the write-then-read
    loop mirrors the read-back discipline of KinesisSourceTest.scala's
    put-then-consume tests applied to index state."""
    root = _ensure_standing_index(spark, sf_dir)
    return _standing_search(spark, root, shared=True)


# ---------------------------------------------------------------------------
# similarity_standing_index_recall_sweep — tune the STANDING index (round 12)
# ---------------------------------------------------------------------------

_MPR_RADII = (0, 1, 2)


def _standing_recall_oracle() -> str:
    """DuckDB twin of the standing-index recall sweep: recompute the
    final corpus (vec_id % {mod} negated), coarse cells, per-radius
    probe membership (Hamming distance on the 8-bit codes), the
    radius-pruned ANN rankings AND the brute-force exact ranking — all
    from the parquet source, independent of the incremental index.
    Scanned-row volume per radius counts every corpus vector within the
    probe distance of each query (self included), which is exactly what
    the engine sums from the index DIRECTORY. Signs factor out of IEEE
    arithmetic exactly, so the oracle multiplies s_q*s_v into the dot
    product instead of materializing negated arrays."""
    bits = _sign_bits_sql(f"vec_id % {_ANN_UPD_MOD} = 0", COARSE_BITS)
    ham, sim = _probe_sql()
    radii_rows = ", ".join(f"({h})" for h in _MPR_RADII)
    return f"""
    WITH coded AS (
        SELECT vec_id, embedding,
               CASE WHEN vec_id % {_ANN_UPD_MOD} = 0 THEN -1 ELSE 1 END AS s,
               {bits} AS c8
        FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, embedding, s, c8
        FROM coded WHERE vec_id < {_SI_NQ}
    ), pairs AS (
        SELECT q.query_id, v.vec_id,
               CAST(({ham}) AS INT) AS dist,
               ROUND({sim}, 6) AS sim
        FROM q CROSS JOIN coded v
        CROSS JOIN UNNEST(RANGE(1, {_DIM + 1})) AS t(i)
        GROUP BY q.query_id, v.vec_id, q.c8, v.c8, q.s, v.s
    ), radii AS (SELECT * FROM (VALUES {radii_rows}) AS r(probe_h)),
    vol AS (
        SELECT r.probe_h, CAST(COUNT(*) AS BIGINT) AS n_scanned_rows
        FROM pairs p JOIN radii r ON p.dist <= r.probe_h
        GROUP BY r.probe_h
    ), exact AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY sim DESC, vec_id
                   ) AS rnk
            FROM pairs WHERE vec_id <> query_id
        ) WHERE rnk <= {_SI_K}
    ), ann AS (
        SELECT r.probe_h, p.query_id, p.vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY r.probe_h, p.query_id
                   ORDER BY p.sim DESC, p.vec_id
               ) AS rnk
        FROM pairs p JOIN radii r ON p.dist <= r.probe_h
        WHERE p.vec_id <> p.query_id
    ), hits AS (
        SELECT a.probe_h, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM ann a JOIN exact e
          ON e.query_id = a.query_id AND e.vec_id = a.vec_id
        WHERE a.rnk <= {_SI_K}
        GROUP BY a.probe_h
    )
    SELECT v.probe_h, v.n_scanned_rows,
           COALESCE(h.n_hits, 0) AS n_hits,
           (10000 * COALESCE(h.n_hits, 0)) // ({_SI_K} * {_SI_NQ}) AS recall4
    FROM vol v LEFT JOIN hits h ON h.probe_h = v.probe_h
    ORDER BY v.probe_h
    """


@query(
    "similarity_standing_index_recall_sweep",
    oracle=_standing_recall_oracle(),
)
def similarity_standing_index_recall_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall-vs-radius tuning table for the STANDING IVF index
    (round-11 VERDICT ask #6 — the index's own tuning loop, closed with
    a gated table): for each probe radius h ∈ {_MPR_RADII}, recall@{_SI_K}
    of the radius-pruned search against the brute-force exact ranking on
    the same post-upsert corpus, plus the scan-cost column — the number
    of index rows the probe set would read, summed FROM THE DIRECTORY
    (the very statistic a query planner consults before picking a
    radius). Consumes the exact tables the upsert drain produced
    (`_ensure_standing_index`), pinned to ONE committed snapshot, like
    the search path; a directory whose counts disagree with the scanned
    partitions RAISES rather than reporting wrong volumes.

    The radius-2 sweep generalizes `similarity_standing_index_topk`'s
    fixed radius: one manifest-pruned scan of the radius-2 probe cells
    feeds every smaller radius by filtering on the per-cell Hamming
    distance (radius sets are nested), so the sweep costs ONE pruned
    scan + one brute-force anchor, not three scans.

    Scale shape: probe expansion is driver-side string arithmetic
    (≤ {_SI_NQ}×37 pairs, broadcast); the candidate scan reads only the
    radius-2 cells' files straight off the manifest; rankings are
    windows over per-(radius, query) candidate lists; directory volumes
    aggregate a metadata-sized table. The brute-force anchor is the
    offline eval baseline (ground truth needs it anyway), same cost
    class as similarity_multiprobe_recall_sweep.

    Determinism: Hamming distances and row counts are integers; ranking
    uses the 6-dp-rounded sim with vec_id tie-break; recall is
    (10000·hits) FLOOR-div ({_SI_K}·{_SI_NQ}) — no float crosses the
    gate.

    Reference parity: none (SURVEY §2.D north-star)."""
    root = _ensure_standing_index(spark, sf_dir)
    snap = load_snapshot(root)
    if snap is None:
        raise RuntimeError(
            f"standing index at {root!r} has no committed snapshot"
        )
    max_r = max(_MPR_RADII)
    # r13: the probe set, the checked candidate frame and the exact
    # anchor are the SAME objects similarity_standing_index_topk builds
    # (same pinned snapshot, same radius-2 probe cells) — shared via
    # shared_frame instead of rebuilt per query (round-12 VERDICT ask
    # #4); the armed directory-vs-scan RAISE runs inside the shared
    # build
    probe_df, probed = _si_probe(spark, root, snap, max_r)
    cand, n_dir = _si_cand_checked(
        spark, root, snap, probe_df, probed, shared=(max_r == _SI_RADIUS)
    )
    # directory-derived scan volumes per radius (metadata-sized)
    d8 = read_directory(spark, root, snapshot=snap).select(
        F.concat(F.lit("b"), F.substring("cell", 1, COARSE_BITS)).alias("c8"),
        "n_vecs",
    )
    dir_cells = probe_df.join(F.broadcast(d8), "c8").select(
        "query_id", "dist", "n_vecs"
    )
    radii = spark.range(1).select(
        F.explode(F.array(*[F.lit(h) for h in _MPR_RADII])).alias("probe_h")
    )
    vol = (
        dir_cells.join(F.broadcast(radii), F.col("dist") <= F.col("probe_h"))
        .groupBy("probe_h")
        .agg(F.sum("n_vecs").alias("n_scanned_rows"))
    )
    q_emb = cand.filter(
        (F.col("vec_id") == F.col("query_id")) & (F.col("vec_id") < _SI_NQ)
    ).select("query_id", F.col("embedding").alias("q_emb"))
    sims = (
        cand.filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(q_emb), "query_id")
        .select(
            "query_id",
            "vec_id",
            "dist",
            F.round(cosine_sim("q_emb", "embedding"), 6).alias("sim"),
        )
    )
    exact = _si_exact_anchor(spark, root, snap, q_emb).select(
        "query_id", F.col("vec_id").alias("e_vid")
    )
    w_h = Window.partitionBy("probe_h", "query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    ann_top = (
        sims.join(F.broadcast(radii), F.col("dist") <= F.col("probe_h"))
        .withColumn("rnk", F.row_number().over(w_h))
        .filter(F.col("rnk") <= _SI_K)
        .select("probe_h", "query_id", "vec_id")
    )
    hits = (
        ann_top.join(
            exact,
            (ann_top["query_id"] == exact["query_id"])
            & (ann_top["vec_id"] == exact["e_vid"]),
        )
        .groupBy("probe_h")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        vol.join(F.broadcast(hits), "probe_h", "left")
        .select(
            "probe_h",
            "n_scanned_rows",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.expr(
                f"(10000 * coalesce(n_hits, 0L)) DIV ({_SI_K} * {_SI_NQ})"
            ).alias("recall4"),
        )
        .orderBy("probe_h")
    )


# ---------------------------------------------------------------------------
# maintenance_ann_vacuum_retention — reclaim superseded index files (round 12)
# ---------------------------------------------------------------------------


@query("maintenance_ann_vacuum_retention", oracle=_ann_oracle())
def maintenance_ann_vacuum_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VACUUM for the standing ANN index — the retention leg of the
    round-12 snapshot protocol: versioned data files superseded by newer
    commits (and manifests outside the retention window, and orphaned
    task temp files) are reclaimed, while the newest committed snapshot
    — the consumer view — is provably untouched. The Delta/Iceberg
    VACUUM contract, exercised on a fresh copy of the cached post-drain
    index so every run vacuums the same input.

    RAISES unless (1) something was actually reclaimed (the drain
    commits ≥ 2 versions whose idmap buckets overlap, so superseded
    files MUST exist), (2) exactly the pre-window manifests were
    deleted and the latest version is the one retained, (3) after the
    pass every remaining data file is referenced by the retained
    manifest — no leak, no over-delete — and (4) the consumer view
    (live row count AND the directory) is unchanged. The returned
    directory is gated by the same DuckDB full-rebuild oracle as the
    upsert drain: a vacuum that touched live data cannot hash-match.

    Scale shape: vacuum lists only the index's own partition
    directories through pyarrow.fs (object-store-shaped LIST calls,
    table-proportional, maintenance-path only — never in a batch) and
    deletes unreferenced files; the consumer-view checks are
    manifest-pruned reads of a metadata-sized table plus one store
    count.

    Reference parity: none (SURVEY §2.D north-star); the
    verify-after-maintenance discipline mirrors
    maintenance_ann_marker_compaction."""



    src = _ensure_standing_index(spark, sf_dir)
    work = os.path.join(scratch_dir("annidx_vacuum"), "index")
    _scratch_copy(src, work)
    latest = current_version(work)
    if latest is None or latest < 2:
        raise RuntimeError(
            f"drained index should hold >= 2 committed versions, found "
            f"{latest!r}"
        )
    pre_live = read_store(spark, work).count()
    pre_dir = {
        (r["cell"], r["depth"], r["n_vecs"])
        for r in read_directory(spark, work).collect()
    }
    stats = vacuum(work, retain=1)
    if stats["files_deleted"] == 0:
        raise RuntimeError(
            "vacuum reclaimed nothing — superseded files must exist "
            "after a multi-batch drain"
        )
    if stats["retained_versions"] != [latest]:
        raise RuntimeError(
            f"vacuum retained {stats['retained_versions']}, expected "
            f"[{latest}]"
        )
    if stats["manifests_deleted"] != latest - 1:
        raise RuntimeError(
            f"vacuum deleted {stats['manifests_deleted']} manifests, "
            f"expected {latest - 1}"
        )
    # no leak, no over-delete: the on-disk data files are EXACTLY the
    # retained manifest's entries
    snap = load_snapshot(work)
    referenced = {
        posixpath.join(tbl, key, fname)
        for tbl in TABLES
        for key, fname in snap.files(tbl).items()
    }
    fs, base, _ = resolve_fs(work)
    on_disk = {
        posixpath.relpath(info.path, base)
        for tbl in TABLES
        for info in fs.get_file_info(
            pafs.FileSelector(
                posixpath.join(base, tbl), recursive=True,
                allow_not_found=True,
            )
        )
        if info.type == pafs.FileType.File
    }
    if on_disk != referenced:
        raise RuntimeError(
            f"post-vacuum file set diverges from the retained manifest: "
            f"{len(on_disk - referenced)} unreferenced, "
            f"{len(referenced - on_disk)} missing"
        )
    # the consumer view is untouched
    post_live = read_store(spark, work).count()
    if post_live != pre_live:
        raise RuntimeError(
            f"vacuum changed the consumer view: {pre_live} -> {post_live}"
        )
    post_dir_df = read_directory(spark, work)
    post_dir = {
        (r["cell"], r["depth"], r["n_vecs"]) for r in post_dir_df.collect()
    }
    if post_dir != pre_dir:
        raise RuntimeError("vacuum changed the directory")
    return post_dir_df


# ---------------------------------------------------------------------------
# serve-during-drain + time travel over the standing index (round 12)
# ---------------------------------------------------------------------------
# The round-12 snapshot protocol's two consumer-visible guarantees, each
# oracle-gated:
#   stream_ann_search_during_upsert — a serving path runs INSIDE the
#     maintenance drain's foreachBatch, pinned to the last committed
#     snapshot, while the same batch then rewrites the touched cells; it
#     records exactly what it served.
#   similarity_standing_index_time_travel — after the drain, a reader
#     pins EACH committed version and reruns the search; the pinned-v1
#     replay must equal byte-for-byte what was served mid-drain
#     (read-your-committed-snapshot reproducibility), and both versions'
#     rankings hash-match a DuckDB recomputation of the two corpus
#     states.


def _first_put_file_count(stream: SimStream) -> int:
    """Number of stream data files written by the FIRST put (payload ts
    == _T1) — used as maxFilesPerTrigger so the drain's micro-batch
    boundary falls exactly on the seq-0/seq-1 semantic boundary at every
    sf. (The maintenance drain's ceil(n_files/2) chop is a file-count
    heuristic that does NOT align with the seq boundary at every sf —
    at sf1 the first put spans >half the files — and chopping
    invariance of the INDEX is property-tested separately; time-travel
    semantics need the semantic boundary.) Build-time-only driver-side
    listing of the local stream cache, same discipline as
    _ann_upserts_df's file count."""
    want = _T1.replace(tzinfo=None)
    n = 0
    for f in _put_files(stream):
        ts = pq.read_table(f, columns=["ts"])["ts"]
        if len(ts) and ts[0].as_py() == want:
            n += 1
    return n


_TT_SEARCH_COLS = ("query_id", "rnk", "vec_id", "sim", "n_cand")


def _serve_and_record(
    spark: SparkSession, root: str, served: str, batch_id: int
) -> None:
    """The serving half of the drain's foreachBatch: search the fixed
    query set against the last committed snapshot and record what was
    served. IDEMPOTENT under micro-batch replay (at-least-once
    foreachBatch redelivery after a crash between the serve and the
    merge commit): each batch OVERWRITES its own deterministic
    partition directory ``served/batch_id=N`` instead of appending —
    a replayed batch reads the same committed snapshot (the merge
    hadn't committed) and rewrites the same rows, never duplicates
    them. Batch 0 has no committed snapshot yet and records nothing
    (serving comes online after the first commit)."""
    snap = load_snapshot(root)
    if (snap is None) != (batch_id == 0):
        raise RuntimeError(
            f"batch {batch_id} sees committed version "
            f"{None if snap is None else snap.version} — commit "
            f"protocol violated"
        )
    if snap is None:
        return
    (
        _standing_search(spark, root, snapshot=snap, anchor=False)
        .select(
            F.lit(snap.version).cast("long").alias("version"),
            *_TT_SEARCH_COLS,
        )
        .write.mode("overwrite")
        .parquet(os.path.join(served, f"batch_id={batch_id}"))
    )


def _read_served(spark: SparkSession, served: str) -> DataFrame:
    """The serving record across all batches — ``batch_id`` comes from
    the partition directory names (cast to long: partition discovery
    infers int)."""
    return spark.read.option("basePath", served).parquet(served).select(
        F.col("batch_id").cast("long").alias("batch_id"),
        "version",
        *_TT_SEARCH_COLS,
    )


def _serve_then_merge_drain(
    spark: SparkSession, sf_dir: str, base: str
) -> tuple[str, str]:
    """Drain the SHARED upsert stream (the same cached 2-put history the
    maintenance drain and the search path consume) into a fresh index at
    ``base/index`` through a foreachBatch that SERVES BEFORE IT MERGES:
    each micro-batch first runs the pruned top-k search for the fixed
    query set against the last committed snapshot (none yet in batch 0 —
    serving comes online after the first commit), appends what it served
    (tagged with batch id and the snapshot version it read) under
    ``base/served``, and only then merges the batch. This is the
    reference's maintenance-never-blocks-reads discipline
    (KinesisSource.scala:229-235 keeps emitting during reshard) applied
    to index state: the reader inside the drain takes no lock, sees no
    half-written table, and raises on nothing.

    Determinism: maxFilesPerTrigger is set to the first put's file
    count, so batch k holds exactly the seq-k records (asserted per
    batch — a Spark file-ordering change raises loudly instead of
    hash-mismatching), the drain commits exactly versions 1 and 2, and
    batch 1's served rows are the pre-update ranking — SQL-expressible
    from the parquet source alone.

    Scale shape: per-batch serving cost is the pruned probe-set scan
    (≤ 37/256 of the corpus) + driver-side manifest read; the merge
    keeps its O(touched cells) contract. Nothing here is
    corpus-quadratic."""
    root = os.path.join(base, "index")
    served = os.path.join(base, "served")
    stream = _ann_upsert_stream(spark, sf_dir)
    n0 = _first_put_file_count(stream)
    if n0 <= 0:
        raise RuntimeError(
            "upsert stream cache holds no first-put files — cannot "
            "seq-align the drain"
        )
    upserts = _ann_upserts_df(spark, stream, files_per_trigger=n0)
    merge = index_merger(spark, root)

    def _serve_then_merge(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = _persist(batch_df)
        seqs = sorted(
            r[0] for r in batch_df.select("seq").distinct().collect()
        )
        if seqs != [batch_id]:
            raise RuntimeError(
                f"drain batch {batch_id} is not seq-aligned (seqs={seqs})"
                f" — the source's file ordering no longer matches put "
                f"order; time-travel semantics would be undefined"
            )
        _serve_and_record(spark, root, served, batch_id)
        merge(batch_df, batch_id)
        batch_df.unpersist()

    drain(upserts, _serve_then_merge)
    if current_version(root) != 2:
        raise RuntimeError(
            f"serve-during-drain committed {current_version(root)} "
            f"versions, expected exactly 2 (seq-aligned chop)"
        )
    if not os.path.isdir(served):
        raise RuntimeError(
            "serve-during-drain recorded nothing — batch 1 never served"
        )
    return root, served


def _ensure_tt_index(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Cached seq-aligned two-version index + its mid-drain serving
    record. Safe to cache: both are pure functions of the cached upsert
    history (deterministic chop, deterministic merge), and the
    post-build invariant below runs once, inside the build.
    bench.py builds this in its untimed warm-up (the serving-drain cost
    is measured by stream_ann_search_during_upsert's own fresh drain)."""
    def build(base: str) -> None:
        root, _ = _serve_then_merge_drain(spark, sf_dir, base)
        # post-build invariant: EVERY committed version holds exactly one
        # live row per corpus id (v1 = the full seq-0 corpus, v2 = after
        # latest-wins updates — same cardinality, different vectors)
        n_corpus = table(spark, sf_dir, "embeddings").count()
        for v in (1, 2):
            snap = load_snapshot(root, v)
            n = read_store(spark, root, snapshot=snap).count()
            if n != n_corpus:
                raise RuntimeError(
                    f"time-travel index v{v} holds {n} live rows, expected "
                    f"{n_corpus}"
                )

    base = derived_dir(spark, sf_dir, "annidx_timetravel", build)
    return os.path.join(base, "index"), os.path.join(base, "served")


def _si_state_sql(tag: str, flipped: bool) -> tuple[str, str]:
    """One corpus state's CTE chain + ranked-select for the DuckDB twin
    of the pruned standing-index search (no brute-force anchor):
    ``flipped=False`` recomputes the PRE-update corpus (pure seq-0 —
    the original parquet vectors), ``flipped=True`` the final corpus
    (vec_id % {mod} negated). Signs factor out of IEEE arithmetic
    exactly, so the flipped state multiplies s_q*s_v into the dot
    product of the ORIGINAL floats instead of materializing negated
    arrays (same discipline as the anchored topk oracle)."""
    flip = f"vec_id % {_ANN_UPD_MOD} = 0" if flipped else "FALSE"
    bits = _sign_bits_sql(flip, COARSE_BITS)
    ham, sim = _probe_sql()
    ctes = f"""
    coded_{tag} AS (
        SELECT vec_id, embedding,
               CASE WHEN {flip} THEN -1 ELSE 1 END AS s,
               {bits} AS c8
        FROM embeddings
    ), q_{tag} AS (
        SELECT vec_id AS query_id, embedding, s, c8
        FROM coded_{tag} WHERE vec_id < {_SI_NQ}
    ), pairs_{tag} AS (
        SELECT q.query_id, v.vec_id,
               (({ham}) <= {_SI_RADIUS}) AS probed,
               ROUND({sim}, 6) AS sim
        FROM q_{tag} q CROSS JOIN coded_{tag} v
        CROSS JOIN UNNEST(RANGE(1, {_DIM + 1})) AS t(i)
        GROUP BY q.query_id, v.vec_id, q.c8, v.c8, q.s, v.s
    ), ncand_{tag} AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_cand
        FROM pairs_{tag} WHERE probed GROUP BY query_id
    ), ann_{tag} AS (
        SELECT query_id, vec_id, sim,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY sim DESC, vec_id
               ) AS rnk
        FROM pairs_{tag} WHERE probed AND vec_id <> query_id
    )"""
    select = (
        f"SELECT a.query_id, a.rnk, a.vec_id, a.sim, n.n_cand "
        f"FROM ann_{tag} a JOIN ncand_{tag} n ON n.query_id = a.query_id "
        f"WHERE a.rnk <= {_SI_K}"
    )
    return ctes, select


def _served_oracle() -> str:
    """DuckDB twin of the mid-drain serving record: batch 1 (the only
    batch with a committed snapshot to read) served the pinned-v1
    pruned ranking — the PRE-update corpus, recomputed from the parquet
    source alone."""
    ctes, select = _si_state_sql("pre", flipped=False)
    return f"""
    WITH {ctes}
    SELECT CAST(1 AS BIGINT) AS batch_id, CAST(1 AS BIGINT) AS version,
           s.* FROM ({select}) s
    """


def _tt_oracle() -> str:
    """DuckDB twin of the two-version time travel: the pre-update and
    post-update rankings, unioned with their version/state tags."""
    pre_ctes, pre_select = _si_state_sql("pre", flipped=False)
    post_ctes, post_select = _si_state_sql("post", flipped=True)
    return f"""
    WITH {pre_ctes}, {post_ctes}
    SELECT CAST(1 AS BIGINT) AS version, 'pre_update' AS state, s.*
    FROM ({pre_select}) s
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS version, 'post_update' AS state, s.*
    FROM ({post_select}) s
    """


@query("stream_ann_search_during_upsert", oracle=_served_oracle())
def stream_ann_search_during_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Serve WHILE maintaining: a fresh seq-aligned drain of the shared
    upsert stream whose foreachBatch runs the pinned pruned search
    BEFORE merging each batch, recording exactly what it served
    (batch_id, the manifest version it read, and the full ranked
    result). Batch 0 has no committed snapshot yet and serves nothing;
    batch 1 reads pinned v1 — the seq-0 corpus — while its own merge is
    about to supersede it. The directory-vs-scan consistency check
    stays armed inside the serving call; the drain raises if any batch
    is not seq-aligned, if the commit protocol shows the wrong version,
    or if fewer/more than 2 versions commit.

    Scale shape: serving cost per batch is the probe-set-pruned scan
    (static file-list pruning off the pinned manifest), merge cost is
    O(touched cells); the recorded result is rows-bounded by
    queries x k. Re-drains fresh each call — this measures the
    serve-during-maintenance path, not a cache.

    Reference parity: KinesisSource.scala:229-235 (the source keeps
    emitting during reshard — maintenance never blocks reads), applied
    to index state under the round-12 manifest protocol."""
    _, served = _serve_then_merge_drain(spark, sf_dir, scratch_dir("annserve"))
    return _read_served(spark, served)


@query("similarity_standing_index_time_travel", oracle=_tt_oracle())
def similarity_standing_index_time_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time travel over the standing index: pin EACH committed manifest
    version and rerun the pruned top-k search — v1 answers from the
    pre-update corpus, v2 from the post-update corpus, both live reads
    of immutable committed files (Delta/Iceberg VERSION AS OF, on the
    round-12 manifest protocol). RAISES unless the pinned-v1 replay
    equals byte-for-byte what the serving path recorded MID-DRAIN
    between v1's commit and v2's (read-your-committed-snapshot
    reproducibility: a pinned reader is immune to concurrent
    maintenance, so replaying it after the fact reproduces the served
    answer exactly).

    Scale shape: two probe-set-pruned scans off two pinned manifests
    (no partition discovery, no corpus shuffle); the reproducibility
    check compares two queries x k frames. The index build is the
    shared cached drain.

    Reference parity: none (SURVEY §2.D north-star); the replay-equals-
    served discipline mirrors the at-least-once redelivery gates on the
    source side (KinesisSourceTest.scala's consume-twice scenarios).

    r13 shape (guide §2.4, §5.1): the two pinned searches run as ONE
    fused plan — one idmap lookup job over both versions' sidecars, one
    version-tagged union of the two manifest-pruned candidate scans, one
    armed directory-vs-scan check, one rerank window keyed on
    (version, query_id) — and the symmetric exceptAll reproducibility
    check is one aggregate job instead of two (the r12 post-maintenance
    verification-scan discipline). Was: two independent searches × (idmap
    collect + check count) + two exceptAll counts = 6 eager jobs; now 3.
    Per-version RAISE contracts are unchanged: a missing version, an
    unresolvable query id, a stale directory cell, or a replay divergence
    still raises with the same message shapes."""
    root, served = _ensure_tt_index(spark, sf_dir)
    versions = ((1, "pre_update"), (2, "post_update"))
    snaps = {}
    for v, _ in versions:
        snap = load_snapshot(root, v)
        if snap is None or snap.version != v:
            raise RuntimeError(
                f"time-travel index is missing committed version {v}"
            )
        snaps[v] = snap
    # ONE bounded collect resolves both versions' query cells (the
    # updates may move a query between cells, so v1 and v2 are genuinely
    # different lookups — but they need not be different JOBS)
    q_idbs = sorted({i % N_ID_BUCKETS for i in range(_SI_NQ)})
    im = None
    for v, _ in versions:
        r = (
            read_idmap(spark, root, q_idbs, snapshot=snaps[v])
            .filter(F.col("vec_id") < _SI_NQ)
            .select(F.lit(v).cast("long").alias("version"), "vec_id", "c8")
        )
        im = r if im is None else im.unionByName(r)
    q_cells: dict[int, dict[int, str]] = {v: {} for v, _ in versions}
    for r in im.collect():
        q_cells[r["version"]][r["vec_id"]] = r["c8"]
    for v, _ in versions:
        if len(q_cells[v]) != _SI_NQ:
            raise RuntimeError(
                f"standing index idmap resolves {len(q_cells[v])}/{_SI_NQ} "
                f"query ids — index incomplete"
            )
    pairs = [
        (v, qid, cell)
        for v, _ in versions
        for qid, c8 in sorted(q_cells[v].items())
        for cell in probe_cells(c8, _SI_RADIUS)
    ]
    probe_df = spark.createDataFrame(
        pairs, "version long, query_id long, c8 string"
    )
    pruned = None
    d8 = None
    for v, _ in versions:
        probed_v = sorted({c for pv, _, c in pairs if pv == v})
        p = (
            read_store(spark, root, cells=probed_v, snapshot=snaps[v])
            .select("vec_id", "c8", "embedding")
            .withColumn("version", F.lit(v).cast("long"))
        )
        pruned = p if pruned is None else pruned.unionByName(p)
        d = read_directory(spark, root, snapshot=snaps[v]).select(
            F.lit(v).cast("long").alias("version"),
            F.concat(F.lit("b"), F.substring("cell", 1, COARSE_BITS)).alias(
                "c8"
            ),
            "n_vecs",
        )
        d8 = d if d8 is None else d8.unionByName(d)
    # consumed three times (count self-check, query extraction, rerank):
    # one registered persist of the two-version union
    cand = transient_persist(
        pruned.join(F.broadcast(probe_df), ["version", "c8"])
    )
    n_dir = (
        d8.join(F.broadcast(probe_df), ["version", "c8"])
        .groupBy("version", "query_id")
        .agg(F.sum("n_vecs").alias("n_cand"))
    )
    n_scan = cand.groupBy("version", "query_id").agg(
        F.count("*").alias("n_scan")
    )
    bad_rows = (
        n_dir.join(n_scan, ["version", "query_id"], "full")
        .filter(~F.col("n_cand").eqNullSafe(F.col("n_scan")))
        .select(F.lit("stale_directory").alias("why"))
    )
    q_emb = cand.filter(
        (F.col("vec_id") == F.col("query_id")) & (F.col("vec_id") < _SI_NQ)
    ).select("version", "query_id", F.col("embedding").alias("q_emb"))
    w = Window.partitionBy("version", "query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    sims = (
        cand.filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(q_emb), ["version", "query_id"])
        .select(
            "version",
            "query_id",
            "vec_id",
            F.round(cosine_sim("q_emb", "embedding"), 6).alias("sim"),
        )
    )
    state = F.when(F.col("version") == 1, F.lit("pre_update")).otherwise(
        F.lit("post_update")
    )
    # consumed twice (the reproducibility check below + the returned
    # frame): one registered persist instead of re-deriving the pruned
    # scan + rerank per consumer
    res = transient_persist(
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _SI_K)
        .join(F.broadcast(n_dir), ["version", "query_id"])
        .select("version", state.alias("state"), *_TT_SEARCH_COLS)
    )
    live_v1 = res.filter(F.col("version") == 1).select(*_TT_SEARCH_COLS)
    recorded = _read_served(spark, served).select(*_TT_SEARCH_COLS)
    # BOTH armed checks fold into ONE aggregate job (the r12
    # post-maintenance verification-scan discipline): the directory-vs-
    # scan violations and the two exceptAll legs of the replay-equals-
    # served symmetric difference are tag-unioned and counted together —
    # zero rows of either tag iff both invariants hold. The single
    # action also materializes the cand and res persists, so the final
    # returned frame is a cache read. Raise precedence matches the old
    # sequential checks (directory first, then divergence).
    div_rows = (
        live_v1.exceptAll(recorded)
        .unionByName(recorded.exceptAll(live_v1))
        .select(F.lit("replay_diverged").alias("why"))
    )
    violations = {
        r["why"]: r["n"]
        for r in bad_rows.unionByName(div_rows)
        .groupBy("why")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    if violations.get("stale_directory"):
        raise RuntimeError(
            f"standing index directory is inconsistent with the store "
            f"for {violations['stale_directory']} queries — stale cell "
            f"counts"
        )
    if violations.get("replay_diverged"):
        raise RuntimeError(
            f"pinned-v1 replay diverges from the mid-drain serving "
            f"record on {violations['replay_diverged']} rows — snapshot "
            f"pinning is broken"
        )
    return res
