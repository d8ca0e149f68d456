"""The incremental IVF index (streaming/ann_index.py) and its commit
layer (streaming/snapshot_store.py):

- the canonical hot-cell-split assignment and the sign code;
- the batch path makes NO direct os/shutil filesystem calls (all IO
  routes through pyarrow.fs; drained partitions leave the MANIFEST, no
  rmtrees), on a local root, a ``file:`` URI root and pyarrow's mock
  object store;
- the manifest — covering store, idmap AND directory — commits LAST and
  atomically, so a replay of a batch that crashed at any pre-commit
  point re-derives everything from the intact pre-batch snapshot, and a
  search between a batch's data writes and its commit returns the
  PRE-batch answer;
- any chopping of the upsert stream, with at-least-once redelivery,
  converges to the same index a full rebuild produces (latest-wins is
  associative/commutative/idempotent);
- CDC delete markers, vacuum, payload-schema widening and the bucket
  layout;
- the registry queries built on the standing index (search, exact
  anchor, time travel, marker compaction).

Most of these drive ``index_merger`` directly with hand-built batch
DataFrames — no streaming runtime — which is exactly why the merger is
exposed.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from akka_streams_kinesis_spark import registry
from akka_streams_kinesis_spark.streaming import snapshot_store
from akka_streams_kinesis_spark.streaming.ann_index import (
    COARSE_BITS,
    DELETED_COL,
    MAX_BITS,
    assign_cells,
    compact_markers,
    index_merger,
    load_snapshot,
    probe_cells,
    read_directory,
    read_idmap,
    read_store,
    vacuum,
)
from akka_streams_kinesis_spark.streaming.snapshot_store import current_version

registry.load_all()

_SRCS = [
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "akka_streams_kinesis_spark",
        "streaming",
        name,
    )
    for name in ("ann_index.py", "snapshot_store.py")
]


def _upserts(spark, rows, schema="vec_id long, seq long, code string"):
    """rows: (vec_id, seq, 12-bit code string)."""
    return spark.createDataFrame(rows, schema)


def _directory_set(spark, root):
    return {
        (r["cell"], r["depth"], r["n_vecs"])
        for r in read_directory(spark, root).collect()
    }


def _rebuild_set(spark, final_rows):
    df = assign_cells(
        _upserts(spark, final_rows).select("vec_id", "code")
    ).groupBy("cell", "depth").agg(F.count("*").alias("n_vecs"))
    return {(r["cell"], r["depth"], r["n_vecs"]) for r in df.collect()}


@pytest.fixture
def root(tmp_path):
    return str(tmp_path / "annidx")


class TestAnnIndexAssignment:
    """Canonical hot-cell-split assignment (streaming/ann_index.py):
    pure-function checks the streaming gate builds on."""

    def test_split_semantics(self, spark):
        from akka_streams_kinesis_spark.streaming.ann_index import (
            CELL_CAP,
            assign_cells,
        )

        # cold prefix: CELL_CAP vectors share an 8-bit prefix → stay at
        # depth 8. hot prefix: CELL_CAP+2 vectors, differing at bit 9 →
        # split to depth 9 (one subcell ≤ CAP each side)
        cold = [("0" * 8 + "1010",)] * CELL_CAP
        hot = [("1" * 8 + "0110",)] * (CELL_CAP // 2 + 1) + [
            ("1" * 8 + "1001",)
        ] * (CELL_CAP // 2 + 1)
        df = spark.createDataFrame(cold + hot, "code string")
        got = {
            (r["cell"], r["depth"])
            for r in assign_cells(df).select("cell", "depth").collect()
        }
        assert ("0" * 8, 8) in got
        assert ("1" * 8 + "0", 9) in got
        assert ("1" * 8 + "1", 9) in got
        assert not any(c.startswith("0" * 8) and d > 8 for c, d in got)

    def test_sign_code_flip_is_exact(self, spark):
        import pyspark.sql.functions as F

        from akka_streams_kinesis_spark.streaming.ann_index import (
            MAX_BITS,
            sign_code,
        )

        df = spark.createDataFrame(
            [(1, [0.5, -0.25, 0.0] + [1.0] * (MAX_BITS - 3))],
            "vec_id long, embedding array<double>",
        )
        plain = df.select(sign_code("embedding").alias("c")).first()["c"]
        flipped = df.select(
            sign_code("embedding", flip=F.lit(True)).alias("c")
        ).first()["c"]
        assert plain == "101" + "1" * (MAX_BITS - 3)
        # flip inverts every nonzero sign; exact zero codes 1 both ways
        assert flipped == "011" + "0" * (MAX_BITS - 3)


class TestObjectStoreSafety:
    def test_no_direct_os_fs_calls_in_module(self):
        """Pins round-10 VERDICT ask #2, tightened in round 12: NO
        os/shutil usage anywhere in ann_index.py or the snapshot_store.py
        it commits through — every filesystem touch (manifest IO,
        probes, the task-side writer, vacuum) routes through pyarrow.fs,
        so any URI scheme behaves the same."""
        src = "\n".join(open(p).read() for p in _SRCS)
        # strip docstrings/comments, keep code
        code_lines = []
        in_doc = False
        for ln in src.splitlines():
            s = ln.strip()
            if s.startswith('"""') or s.endswith('"""'):
                in_doc = not in_doc if s.count('"""') == 1 else in_doc
                continue
            if in_doc or s.startswith("#"):
                continue
            code_lines.append(ln)
        code = "\n".join(code_lines)
        assert "shutil" not in code
        assert "import os" not in code
        assert "os.path" not in code and "os.listdir" not in code
        assert "pyarrow import fs" in code or "pyarrow.fs" in code

    def test_drained_cell_leaves_the_manifest(self, spark, root):
        from akka_streams_kinesis_spark.streaming.ann_index import (
            load_snapshot,
        )

        merge = index_merger(spark, root)
        lone = "1" * MAX_BITS
        moved = "0" * MAX_BITS
        merge(_upserts(spark, [(1, 0, lone), (2, 0, moved)]), 0)
        assert _directory_set(spark, root) == _rebuild_set(
            spark, [(1, 0, lone), (2, 0, moved)]
        )
        drained_prefix = f"c8=b{'1' * COARSE_BITS}/"
        assert any(
            k.startswith(drained_prefix)
            for k in load_snapshot(root).files("store")
        )
        # vec 1 moves away: its old coarse cell drains
        merge(_upserts(spark, [(1, 1, moved)]), 1)
        final = [(1, 1, moved), (2, 0, moved)]
        assert _directory_set(spark, root) == _rebuild_set(spark, final)
        store = read_store(spark, root)
        assert store.count() == 2
        # the drained partition left the MANIFEST (cleanup is metadata,
        # no rmtree) — its superseded v1 file stays on disk for readers
        # pinned to v1, until vacuum reclaims it
        snap = load_snapshot(root)
        assert not any(
            k.startswith(drained_prefix) for k in snap.files("store")
        )
        drained_dir = os.path.join(root, "store", drained_prefix[:-1])
        assert os.path.isdir(drained_dir)
        assert any(
            f.endswith(".parquet") and not f.startswith(".")
            for _, _, files in os.walk(drained_dir)
            for f in files
        )
        assert (
            store.filter(F.col("c8") == f"b{'1' * COARSE_BITS}").count() == 0
        )
        # ...and a later arrival re-fills it
        merge(_upserts(spark, [(3, 2, lone)]), 2)
        final = [(1, 1, moved), (2, 0, moved), (3, 2, lone)]
        assert _directory_set(spark, root) == _rebuild_set(spark, final)


class TestUriRoot:
    def test_merge_and_reads_work_with_file_uri_root(self, spark, tmp_path):
        """The object-store-safety claim must hold when ``root`` is a
        URI, not a bare path: the whole merge (existence probe, pruned
        reads, task-side writer) and every reader run against a
        ``file:`` scheme root and produce the same index a bare-path
        run does."""
        rows = [(i, 0, format(i * 5 % (1 << MAX_BITS), f"0{MAX_BITS}b")) for i in range(20)]
        upd = [(i, 1, format(i * 9 % (1 << MAX_BITS), f"0{MAX_BITS}b")) for i in range(0, 20, 4)]
        plain = str(tmp_path / "plain")
        uri = "file:" + str(tmp_path / "uri")
        for r in (plain, uri):
            merge = index_merger(spark, r)
            merge(_upserts(spark, rows), 0)
            merge(_upserts(spark, upd), 1)
        assert _directory_set(spark, uri) == _directory_set(spark, plain)
        assert read_store(spark, uri).count() == 20
        assert read_idmap(spark, uri).count() == 20


class TestReplayContract:
    def test_full_batch_redelivery_is_idempotent(self, spark, root):
        merge = index_merger(spark, root)
        a = [(i, 0, format(i % 7, f"0{MAX_BITS}b")) for i in range(40)]
        b = [(i, 1, format((i + 3) % 5, f"0{MAX_BITS}b")) for i in range(0, 40, 4)]
        merge(_upserts(spark, a), 0)
        merge(_upserts(spark, b), 1)
        snapshot = _directory_set(spark, root)
        merge(_upserts(spark, b), 1)  # at-least-once redelivery
        assert _directory_set(spark, root) == snapshot
        final = {v: (v, s, c) for v, s, c in a}
        final.update({v: (v, s, c) for v, s, c in b})
        assert snapshot == _rebuild_set(spark, list(final.values()))
        assert read_store(spark, root).count() == 40
        assert read_idmap(spark, root).count() == 40

    def test_replay_after_crash_before_manifest_commit(self, spark, root):
        """A batch crashes AFTER all three data writes but BEFORE the
        manifest commit — the last possible pre-commit instant, injected
        through the merger's pre_commit_hook seam. The committed
        snapshot is untouched (orphaned files are invisible to readers),
        and replaying the batch with a fresh merger converges to the
        rebuild."""
        merge = index_merger(spark, root)
        a = [(i, 0, format(i, f"0{MAX_BITS}b")) for i in range(16)]
        merge(_upserts(spark, a), 0)
        pre = _directory_set(spark, root)
        # the batch: every even vec moves to one hot cell
        hot = "1" * MAX_BITS
        b = [(i, 1, hot) for i in range(0, 16, 2)]

        def _crash(version):
            raise RuntimeError("injected crash before manifest commit")

        crashing = index_merger(spark, root, pre_commit_hook=_crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            crashing(_upserts(spark, b), 1)
        # the committed snapshot is exactly the pre-batch index
        assert _directory_set(spark, root) == pre
        assert read_store(spark, root).count() == 16
        assert read_store(spark, root).agg(F.max("seq")).collect()[0][0] == 0
        # replay the same batch (a fresh merger, as after restart)
        index_merger(spark, root)(_upserts(spark, b), 1)
        final = {v: (v, s, c) for v, s, c in a}
        final.update({v: (v, s, c) for v, s, c in b})
        assert _directory_set(spark, root) == _rebuild_set(
            spark, list(final.values())
        )
        store = read_store(spark, root)
        assert store.count() == 16
        assert (
            store.groupBy("vec_id").count().filter("count > 1").count() == 0
        )

    def test_replay_after_crashed_first_batch(self, spark, root):
        """A FIRST batch that crashes pre-commit leaves versioned
        orphans and no manifest; the replay must recognize them as ours
        (not foreign data) and build the index."""
        rows = [(i, 0, format(i * 3, f"0{MAX_BITS}b")) for i in range(10)]

        def _crash(version):
            raise RuntimeError("injected crash")

        with pytest.raises(RuntimeError, match="injected crash"):
            index_merger(spark, root, pre_commit_hook=_crash)(
                _upserts(spark, rows), 0
            )
        from akka_streams_kinesis_spark.streaming.ann_index import (
            load_snapshot,
        )

        assert load_snapshot(root) is None
        index_merger(spark, root)(_upserts(spark, rows), 0)
        assert _directory_set(spark, root) == _rebuild_set(spark, rows)
        assert read_store(spark, root).count() == 10

    def test_any_chopping_converges(self, spark, root):
        """Three different choppings of the same upsert multiset (plus a
        duplicated slice) all yield the rebuild directory."""
        rows = [(i, 0, format(i * 37 % (1 << MAX_BITS), f"0{MAX_BITS}b")) for i in range(30)]
        upd = [(i, 1, format(i * 11 % (1 << MAX_BITS), f"0{MAX_BITS}b")) for i in range(0, 30, 3)]
        final = {v: (v, s, c) for v, s, c in rows}
        final.update({v: (v, s, c) for v, s, c in upd})
        expected = _rebuild_set(spark, list(final.values()))
        all_rows = rows + upd
        for chop in ([30, 10], [13, 13, 14], [40]):
            r = root + f"_{len(chop)}"
            merge = index_merger(spark, r)
            i = 0
            for bid, n in enumerate(chop):
                merge(_upserts(spark, all_rows[i : i + n]), bid)
                i += n
            # redeliver the middle slice once more
            merge(_upserts(spark, all_rows[10:20]), 99)
            assert _directory_set(spark, r) == expected, f"chop {chop}"


class TestCdcDeletes:
    """Delete markers are retained as data — the property that makes
    deletes commute with at-least-once redelivery."""

    def test_replayed_insert_cannot_resurrect(self, spark, root):
        merge = index_merger(spark, root)
        code = "1" * MAX_BITS

        def up(rows):
            return spark.createDataFrame(
                rows, "vec_id long, seq long, code string, deleted boolean"
            )

        insert = [(1, 0, code, False), (2, 0, "0" * MAX_BITS, False)]
        merge(up(insert), 0)
        merge(up([(1, 1, code, True)]), 1)  # CDC delete of vec 1
        assert read_store(spark, root).count() == 1  # consumer view
        assert read_store(spark, root, markers=True).count() == 2
        # an older batch is REDELIVERED after the delete committed:
        # the retained marker must win latest-wins, not the stale insert
        merge(up(insert), 0)
        live = read_store(spark, root)
        assert live.count() == 1
        assert live.filter(F.col("vec_id") == 1).count() == 0
        assert _directory_set(spark, root) == _rebuild_set(
            spark, [(2, 0, "0" * MAX_BITS)]
        )
        # a genuinely NEWER insert legitimately resurrects
        merge(up([(1, 2, code, False)]), 2)
        assert read_store(spark, root).filter(F.col("vec_id") == 1).count() == 1
        assert _directory_set(spark, root) == _rebuild_set(
            spark, [(1, 2, code), (2, 0, "0" * MAX_BITS)]
        )

    def test_compaction_horizon_semantics(self, spark, root):
        """Markers at or above the horizon survive compaction (their
        redelivery window is still open); older ones are reclaimed —
        after which a replay from beyond the horizon CAN resurrect,
        which is the documented retention trade, pinned here so nobody
        'fixes' it into silent unbounded marker growth."""
        from akka_streams_kinesis_spark.streaming.ann_index import (
            compact_markers,
        )

        merge = index_merger(spark, root)
        a, b = "0" * MAX_BITS, "1" * MAX_BITS

        def up(rows):
            return spark.createDataFrame(
                rows, "vec_id long, seq long, code string, deleted boolean"
            )

        merge(up([(1, 0, a, False), (2, 0, b, False), (3, 0, b, False)]), 0)
        merge(up([(1, 1, a, True)]), 1)   # old marker (below horizon)
        merge(up([(2, 5, b, True)]), 2)   # recent marker (kept)
        report = compact_markers(spark, root, horizon_seq=3)
        assert report == {"n_markers_dropped": 1, "n_cells_rewritten": 1}
        markers = read_store(spark, root, markers=True).filter("deleted")
        assert [r["vec_id"] for r in markers.collect()] == [2]
        assert read_store(spark, root).count() == 1  # only vec 3 live
        # idempotent: nothing left to drop
        assert compact_markers(spark, root, horizon_seq=3) == {
            "n_markers_dropped": 0,
            "n_cells_rewritten": 0,
        }
        # vec 2's marker (>= horizon) still blocks a replayed old insert
        merge(up([(2, 0, b, False)]), 0)
        assert read_store(spark, root).filter("vec_id = 2").count() == 0
        # vec 1's marker is gone — a beyond-horizon replay resurrects,
        # BY CONTRACT (the horizon must cover the redelivery window)
        merge(up([(1, 0, a, False)]), 0)
        assert read_store(spark, root).filter("vec_id = 1").count() == 1

    def test_marker_only_cell_has_no_directory_row(self, spark, root):
        merge = index_merger(spark, root)
        code = "1" * MAX_BITS

        def up(rows):
            return spark.createDataFrame(
                rows, "vec_id long, seq long, code string, deleted boolean"
            )

        merge(up([(7, 0, code, False)]), 0)
        merge(up([(7, 1, code, True)]), 1)
        # the cell still holds the marker file (not drained), but the
        # directory lists no live cells
        assert read_store(spark, root, markers=True).count() == 1
        assert read_directory(spark, root).count() == 0


class TestProbeCells:
    def test_radius_counts_and_membership(self):
        c8 = "b" + "0" * COARSE_BITS
        r0 = probe_cells(c8, 0)
        r1 = probe_cells(c8, 1)
        r2 = probe_cells(c8, 2)
        assert r0 == [c8]
        assert len(r1) == 1 + COARSE_BITS
        assert len(r2) == 1 + COARSE_BITS + COARSE_BITS * (COARSE_BITS - 1) // 2
        assert set(r0) <= set(r1) <= set(r2)
        # every probe differs in at most 2 bits and keeps the prefix
        for c in r2:
            assert c[0] == "b" and len(c) == 1 + COARSE_BITS
            assert sum(x != y for x, y in zip(c[1:], c8[1:])) <= 2
        assert len(set(r2)) == len(r2)
        with pytest.raises(ValueError):
            probe_cells(c8, 3)

    def test_nearest_first_order(self):
        c8 = "b10101010"
        cells = probe_cells(c8, 2)
        dists = [sum(x != y for x, y in zip(c[1:], c8[1:])) for c in cells]
        assert dists == sorted(dists)


class TestStandingIndexSearch:
    """similarity_standing_index_topk consumes the standing index the
    upsert drain maintains; the oracle gate (test_oracle_parity /
    driver_sim) checks the ranking — these pin the armed raise and the
    pruning evidence."""

    def test_search_shape_and_pruning(self, spark, sf_dir):
        from akka_streams_kinesis_spark.operators.standing_index import (
            _SI_K,
            _SI_NQ,
            _ensure_standing_index,
            _standing_search,
        )
        from akka_streams_kinesis_spark.streaming.ann_index import read_store

        root = _ensure_standing_index(spark, sf_dir)
        rows = _standing_search(spark, root).collect()
        assert len(rows) == _SI_NQ * _SI_K
        corpus = read_store(spark, root).count()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
            # the candidate volume proves the scan was PRUNED
            assert 0 < r["n_cand"] < corpus
        for qid, qrows in by_q.items():
            assert sorted(r["rnk"] for r in qrows) == list(range(1, _SI_K + 1))
        # multi-probe at radius 2 must find at least SOME exact hits
        assert sum(r["hit_exact"] for r in rows) > 0

    def test_search_scan_is_partition_pruned(self, spark, sf_dir):
        """The ANN path's store scan must prune to the probe cells at the
        FILE LISTING (PartitionFilters on c8 in the physical scan), not
        filter after reading — the property that makes the search
        O(probe set), never O(corpus), at any scale."""
        from akka_streams_kinesis_spark.operators.standing_index import (
            _ensure_standing_index,
            _standing_search,
        )
        from akka_streams_kinesis_spark.plans import physical_plan

        root = _ensure_standing_index(spark, sf_dir)
        plan = physical_plan(_standing_search(spark, root))
        pruned_scans = [
            ln
            for ln in plan.splitlines()
            if "PartitionFilters" in ln
            and re.search(
                r"PartitionFilters: \[c8#\d+ IN", ln
            )  # Spark renders the literal IN-list as `c8#N INSET …`
        ]
        assert pruned_scans, plan

    def test_stale_directory_raises(self, spark, sf_dir, tmp_path):
        """A directory whose counts disagree with the store (as a buggy
        writer would commit) must RAISE the consistency error, not
        silently mis-rank. Staleness is injected the way it would really
        happen under the manifest protocol: a new manifest version whose
        directory files carry wrong counts."""
        import json

        import pyarrow.parquet as pq

        from akka_streams_kinesis_spark.operators.standing_index import (
            _ensure_standing_index,
            _standing_search,
        )

        root = _ensure_standing_index(spark, sf_dir)
        broken = str(tmp_path / "broken_index")
        shutil.copytree(root, broken)
        manifest_dir = os.path.join(broken, "_manifest")
        latest = int(open(os.path.join(manifest_dir, "LATEST")).read())
        manifest = json.load(
            open(os.path.join(manifest_dir, f"v{latest:08d}.json"))
        )
        # rewrite every directory group file with n_vecs + 1 and commit
        # it as a new version — every cell's count is now stale
        v = latest + 1
        fname = f"part-v{v:08d}.parquet"
        for key, old in list(manifest["tables"]["directory"].items()):
            path = os.path.join(broken, "directory", key)
            tbl = pq.read_table(os.path.join(path, old))
            import pyarrow.compute as pc

            tbl = tbl.set_column(
                tbl.schema.get_field_index("n_vecs"),
                "n_vecs",
                pc.add(tbl["n_vecs"], 1),
            )
            pq.write_table(tbl, os.path.join(path, fname))
            manifest["tables"]["directory"][key] = fname
        manifest["version"] = v
        with open(os.path.join(manifest_dir, f"v{v:08d}.json"), "w") as f:
            json.dump(manifest, f)
        with open(os.path.join(manifest_dir, "LATEST"), "w") as f:
            f.write(str(v))
        with pytest.raises(RuntimeError, match="inconsistent|incomplete"):
            _standing_search(spark, broken).collect()


class TestSnapshotIsolation:
    def test_search_mid_batch_reads_pre_batch_snapshot(
        self, spark, sf_dir, tmp_path
    ):
        """THE round-11 ask-#1 criterion: `_standing_search` executed
        between index_merger's data writes and its manifest commit gets
        the PRE-batch answer; after the commit it sees the batch. The
        injected batch inserts a clone of query 0's embedding under a
        fresh vec_id — guaranteed to enter query 0's top-k (cosine 1.0)
        — so 'pre-batch answer' and 'post-batch answer' differ
        provably."""
        from akka_streams_kinesis_spark.operators.standing_index import (
            _ensure_standing_index,
            _standing_search,
        )

        src = _ensure_standing_index(spark, sf_dir)
        root = str(tmp_path / "iso_index")
        shutil.copytree(src, root)

        pre_rows = sorted(
            (
                (r["query_id"], r["rnk"], r["vec_id"])
                for r in _standing_search(spark, root).collect()
            )
        )
        clone_src = (
            read_store(spark, root).filter(F.col("vec_id") == 0).collect()
        )
        assert len(clone_src) == 1
        clone = clone_src[0]
        new_id = 10**6
        batch = spark.createDataFrame(
            [(new_id, 99, clone["code"], clone["embedding"])],
            "vec_id long, seq long, code string, embedding array<float>",
        )

        observed_mid_batch = {}

        def _hook(version):
            rows = _standing_search(spark, root).collect()
            observed_mid_batch["rows"] = sorted(
                (r["query_id"], r["rnk"], r["vec_id"]) for r in rows
            )
            observed_mid_batch["ids"] = {r["vec_id"] for r in rows}

        index_merger(spark, root, pre_commit_hook=_hook)(batch, 1)

        # mid-batch (data written, manifest not): the PRE-batch answer
        assert observed_mid_batch["rows"] == pre_rows
        assert new_id not in observed_mid_batch["ids"]
        # post-commit: the clone is query 0's new near-identical hit
        post = _standing_search(spark, root).collect()
        q0_hits = {r["vec_id"] for r in post if r["query_id"] == 0}
        assert new_id in q0_hits

    def test_pinned_snapshot_survives_later_commits(self, spark, root):
        merge = index_merger(spark, root)
        rows = [(i, 0, format(i * 7, f"0{MAX_BITS}b")) for i in range(12)]
        merge(_upserts(spark, rows), 0)
        pinned = load_snapshot(root)
        moved = [(i, 1, "1" * MAX_BITS) for i in range(0, 12, 2)]
        merge(_upserts(spark, moved), 1)
        # the pinned v1 view is unchanged: committed files are immutable
        assert read_store(spark, root, snapshot=pinned).count() == 12
        assert (
            read_store(spark, root, snapshot=pinned)
            .agg(F.max("seq"))
            .collect()[0][0]
            == 0
        )
        assert read_store(spark, root).agg(F.max("seq")).collect()[0][0] == 1
        # idmap/directory of the pinned snapshot agree with its store
        assert (
            read_idmap(spark, root, snapshot=pinned)
            .agg(F.max("seq"))
            .collect()[0][0]
            == 0
        )


class TestObjectStoreBranch:
    """The non-local `resolve_fs` branch, exercised against pyarrow's
    in-memory mock filesystem (no network): parquet writes via the
    filesystem handle, manifest commit via direct PUT, vacuum traversal
    — and NO local junk directories like 's3a:/…' (the round-11 ADVICE
    failure mode)."""

    @pytest.fixture
    def mockfs(self):
        from pyarrow.fs import _MockFileSystem

        fs = _MockFileSystem()
        snapshot_store.register_fs_factory("mock", lambda: fs)
        yield fs
        snapshot_store._FS_FACTORIES.pop("mock", None)

    def test_resolve_fs_dispatch(self, mockfs, tmp_path):
        fs, base, local = snapshot_store.resolve_fs("mock://idx")
        assert fs is mockfs and base == "idx" and not local
        fs2, base2, local2 = snapshot_store.resolve_fs("file:" + str(tmp_path))
        assert local2 and base2 == str(tmp_path)
        fs3, base3, local3 = snapshot_store.resolve_fs(str(tmp_path))
        assert local3 and base3 == str(tmp_path)

    def test_partition_writer_on_mock_fs(self, mockfs):
        """Drive the task body directly (in-process, the same function
        mapInArrow runs) against a mock object store: files land under
        the right partition dirs, tomb-only partitions are registered
        with zero rows and create NO file, and nothing touches the
        local filesystem."""
        batch = pa.record_batch(
            {
                "vec_id": pa.array([1, 2, None], pa.int64()),
                "seq": pa.array([0, 0, None], pa.int64()),
                "__pkey": pa.array(
                    ["c8=b01/sb=0", "c8=b01/sb=0", "c8=b10/sb=1"]
                ),
                "_tomb": pa.array([False, False, True]),
            }
        )
        reports = list(
            snapshot_store.write_partition_files(
                [batch], "mock://idx/store", "part-v00000001.parquet",
                ("__pkey", "_tomb"),
            )
        )
        assert len(reports) == 1
        rep = {
            k: n
            for k, n in zip(
                reports[0]["part"].to_pylist(),
                reports[0]["n_rows"].to_pylist(),
            )
        }
        assert rep == {"c8=b01/sb=0": 2, "c8=b10/sb=1": 0}
        written = pq.read_table(
            "idx/store/c8=b01/sb=0/part-v00000001.parquet",
            filesystem=mockfs,
        )
        assert written.num_rows == 2
        assert written.column_names == ["vec_id", "seq"]
        from pyarrow.fs import FileType

        # tomb-only partition: registered, but no file created
        assert (
            mockfs.get_file_info(
                "idx/store/c8=b10/sb=1/part-v00000001.parquet"
            ).type
            == FileType.NotFound
        )
        # and no local 's3a:'-style junk directory materialized
        assert not os.path.exists("mock:")
        assert not os.path.exists("mock://idx")

    def test_manifest_protocol_on_mock_fs(self, mockfs):
        manifest = {
            "version": 1,
            "store_buckets": 2,
            "store_payload": {"type": "struct", "fields": []},
            "tables": {"store": {}, "idmap": {}, "directory": {}},
        }
        snapshot_store.commit("mock://idx", manifest)
        assert current_version("mock://idx") == 1
        snap = load_snapshot("mock://idx")
        assert snap.version == 1 and snap.store_buckets == 2
        manifest["version"] = 2
        snapshot_store.commit("mock://idx", manifest)
        assert current_version("mock://idx") == 2
        # pinned older version still loadable
        assert load_snapshot("mock://idx", 1).version == 1

    def test_atomic_write_and_vacuum_on_mock_fs(self, mockfs):
        snapshot_store.fs_write_atomic(mockfs, False, "idx/x/data", b"payload")
        with mockfs.open_input_stream("idx/x/data") as f:
            assert f.read() == b"payload"
        # a two-version index whose v1 store file gets superseded
        for v, files in ((1, {"c8=b01/sb=0": "part-v00000001.parquet"}),
                         (2, {"c8=b01/sb=0": "part-v00000002.parquet"})):
            for fname in files.values():
                snapshot_store.fs_write_atomic(
                    mockfs, False, f"idx2/store/c8=b01/sb=0/{fname}", b"x"
                )
            snapshot_store.commit(
                "mock://idx2",
                {
                    "version": v,
                    "store_buckets": 2,
                    "store_payload": {"type": "struct", "fields": []},
                    "tables": {"store": files, "idmap": {}, "directory": {}},
                },
            )
        stats = vacuum("mock://idx2", retain=1)
        assert stats["files_deleted"] == 1
        assert stats["retained_versions"] == [2]
        from pyarrow.fs import FileType

        assert (
            mockfs.get_file_info(
                "idx2/store/c8=b01/sb=0/part-v00000001.parquet"
            ).type
            == FileType.NotFound
        )
        assert (
            mockfs.get_file_info(
                "idx2/store/c8=b01/sb=0/part-v00000002.parquet"
            ).type
            == FileType.File
        )

    def test_vacuum_after_narrower_vacuum_on_mock_fs(self, mockfs):
        """A retention window that widens between passes skips the
        versions the narrower pass already deleted, and keeps the newest
        version's files."""
        from pyarrow.fs import FileType

        for v in (1, 2, 3):
            fname = f"part-v{v:08d}.parquet"
            snapshot_store.fs_write_atomic(
                mockfs, False, f"idx3/store/c8=b01/sb=0/{fname}", b"x"
            )
            snapshot_store.commit(
                "mock://idx3",
                {
                    "version": v,
                    "store_buckets": 2,
                    "store_payload": {"type": "struct", "fields": []},
                    "tables": {
                        "store": {"c8=b01/sb=0": fname},
                        "idmap": {},
                        "directory": {},
                    },
                },
            )
        first = vacuum("mock://idx3", retain=1)
        assert first["retained_versions"] == [3]
        assert first["files_deleted"] == 2
        second = vacuum("mock://idx3", retain=2)
        assert second["retained_versions"] == [3]
        assert second["files_deleted"] == 0
        assert second["manifests_deleted"] == 0
        assert (
            mockfs.get_file_info(
                "idx3/store/c8=b01/sb=0/part-v00000003.parquet"
            ).type
            == FileType.File
        )
        assert load_snapshot("mock://idx3").version == 3


class TestVacuum:
    def test_vacuum_reclaims_superseded_files_only(self, spark, root):
        merge = index_merger(spark, root)
        hot = "1" * MAX_BITS
        merge(_upserts(spark, [(1, 0, hot), (2, 0, "0" * MAX_BITS)]), 0)
        merge(_upserts(spark, [(1, 1, hot)]), 1)
        merge(_upserts(spark, [(1, 2, hot)]), 2)
        # an orphaned task temp file (crashed attempt debris)
        tmp_orphan = os.path.join(
            root, "store", f"c8=b{'1' * 8}", "sb=0", ".tmp-deadbeef"
        )
        os.makedirs(os.path.dirname(tmp_orphan), exist_ok=True)
        open(tmp_orphan, "w").write("junk")
        pinned_prev = load_snapshot(root, 2)
        stats = vacuum(root, retain=2)
        assert stats["retained_versions"] == [2, 3]
        assert not os.path.exists(tmp_orphan)
        # both retained snapshots remain fully readable
        assert read_store(spark, root).count() == 2
        assert read_store(spark, root, snapshot=pinned_prev).count() == 2
        assert (
            read_store(spark, root, snapshot=pinned_prev)
            .filter(F.col("vec_id") == 1)
            .collect()[0]["seq"]
            == 1
        )
        # manifests outside the window are gone
        mdir = os.path.join(root, "_manifest")
        assert sorted(os.listdir(mdir)) == [
            "LATEST",
            "v00000002.json",
            "v00000003.json",
        ]
        # every file still on disk is referenced by a retained manifest
        kept = set()
        for v in (2, 3):
            snap = load_snapshot(root, v)
            for tbl in ("store", "idmap", "directory"):
                for key, fname in snap.files(tbl).items():
                    kept.add(os.path.join(root, tbl, key, fname))
        on_disk = {
            os.path.join(dp, f)
            for tbl in ("store", "idmap", "directory")
            for dp, _, fs in os.walk(os.path.join(root, tbl))
            for f in fs
        }
        assert on_disk <= kept

    def test_vacuum_rejects_bad_retain(self, root):
        with pytest.raises(ValueError):
            vacuum(root, retain=0)


class TestForeignRootGuard:
    def test_unversioned_data_without_manifest_raises(self, spark, root):
        """Pointing the merger at a table a plain Spark writer produced
        must fail LOUDLY instead of silently shadowing it (round-11
        ADVICE: the old code double-counted part-00000-<uuid> files)."""
        spark.createDataFrame(
            [(1, 0, "x")], "vec_id long, seq long, code string"
        ).write.partitionBy("code").parquet(os.path.join(root, "store"))
        with pytest.raises(RuntimeError, match="foreign|unversioned"):
            index_merger(spark, root)(
                _upserts(spark, [(1, 0, "0" * MAX_BITS)]), 0
            )


class TestSchemaWidening:
    """Round-11 ADVICE medium: a store holding CDC delete markers merged
    with a batch that lacks the `deleted` column must PRESERVE the
    markers (union schemas, null-fill), not resurrect the dead ids."""

    def test_marker_survives_markerless_batch(self, spark, root):
        merge = index_merger(spark, root)
        code = "1" * MAX_BITS
        cdc = "vec_id long, seq long, code string, deleted boolean"
        merge(
            _upserts(spark, [(1, 0, code, False), (2, 0, code, False)], cdc), 0
        )
        merge(_upserts(spark, [(1, 1, code, True)], cdc), 1)  # delete vec 1
        assert read_store(spark, root).count() == 1
        # a PLAIN batch (no deleted column) rewrites the same cell
        merge(_upserts(spark, [(3, 2, code)]), 2)
        live = read_store(spark, root)
        assert {r["vec_id"] for r in live.collect()} == {2, 3}
        markers = read_store(spark, root, markers=True).filter(
            F.coalesce(F.col(DELETED_COL), F.lit(False))
        )
        assert [r["vec_id"] for r in markers.collect()] == [1]
        # and a REPLAY of vec 1's original insert still cannot resurrect
        merge(_upserts(spark, [(1, 0, code, False)], cdc), 0)
        assert read_store(spark, root).filter("vec_id = 1").count() == 0
        # the widened payload schema is recorded in the manifest
        payload = load_snapshot(root).store_payload()
        assert [f.name for f in payload.fields] == [DELETED_COL]

    def test_payload_type_conflict_raises(self, spark, root):
        merge = index_merger(spark, root)
        merge(
            _upserts(
                spark,
                [(1, 0, "0" * MAX_BITS, 1.5)],
                "vec_id long, seq long, code string, score double",
            ),
            0,
        )
        with pytest.raises(RuntimeError, match="type conflict"):
            merge(
                _upserts(
                    spark,
                    [(2, 1, "0" * MAX_BITS, "high")],
                    "vec_id long, seq long, code string, score string",
                ),
                1,
            )

    def test_compaction_keeps_null_deleted_rows(self, spark, root):
        """Round-11 ADVICE low: rows whose `deleted` is NULL (written
        before the column existed, read through the widened schema) are
        LIVE and must survive a compaction of the same cell."""
        merge = index_merger(spark, root)
        code = "1" * MAX_BITS
        # vec 1 inserted BEFORE the deleted column existed
        merge(_upserts(spark, [(1, 0, code)]), 0)
        cdc = "vec_id long, seq long, code string, deleted boolean"
        merge(
            _upserts(spark, [(2, 1, code, False), (3, 1, code, True)], cdc), 1
        )
        # vec 1's stored row now reads deleted = NULL
        raw = read_store(spark, root, markers=True)
        assert (
            raw.filter(F.col("vec_id") == 1).collect()[0][DELETED_COL] is None
        )
        report = compact_markers(spark, root, horizon_seq=2)
        assert report["n_markers_dropped"] == 1
        live = read_store(spark, root)
        assert {r["vec_id"] for r in live.collect()} == {1, 2}


class TestBucketLayout:
    def test_store_buckets_recorded_and_spread(self, spark, root):
        merge = index_merger(spark, root, store_buckets=4)
        hot = "1" * MAX_BITS
        rows = [(i, 0, hot) for i in range(64)]
        merge(_upserts(spark, rows), 0)
        snap = load_snapshot(root)
        assert snap.store_buckets == 4
        keys = [
            k for k in snap.files("store") if k.startswith(f"c8=b{'1' * 8}/")
        ]
        # 64 ids hash across all 4 buckets of the hot cell
        assert sorted(keys) == [f"c8=b{'1' * 8}/sb={b}" for b in range(4)]
        assert read_store(spark, root).count() == 64
        got = read_store(spark, root).groupBy("sb").count().collect()
        assert {r["sb"] for r in got} == {0, 1, 2, 3}
        # a later merger call's store_buckets param is ignored in favor
        # of the manifest's creation-time value (layout stability)
        index_merger(spark, root, store_buckets=16)(
            _upserts(spark, [(100, 1, hot)]), 1
        )
        assert load_snapshot(root).store_buckets == 4
        assert read_store(spark, root).count() == 65

    def test_rebuild_equivalence_holds_across_bucket_counts(
        self, spark, root
    ):
        rows = [(i, 0, format(i * 13 % (1 << MAX_BITS), f"0{MAX_BITS}b"))
                for i in range(40)]
        upd = [(i, 1, format(i * 29 % (1 << MAX_BITS), f"0{MAX_BITS}b"))
               for i in range(0, 40, 5)]
        final = {v: (v, s, c) for v, s, c in rows}
        final.update({v: (v, s, c) for v, s, c in upd})
        expected = _rebuild_set(spark, list(final.values()))
        for buckets in (1, 3):
            r = f"{root}_b{buckets}"
            merge = index_merger(spark, r, store_buckets=buckets)
            merge(_upserts(spark, rows), 0)
            merge(_upserts(spark, upd), 1)
            assert _directory_set(spark, r) == expected, f"buckets={buckets}"
            assert read_store(spark, r).count() == 40


class TestManifestCommitOrder:
    def test_latest_flip_is_the_commit_point(self, spark, root):
        """The version JSON may exist while LATEST still names the old
        version (a crash between the two writes): readers must stay on
        the old version, and the replay must overwrite the orphan."""
        merge = index_merger(spark, root)
        merge(_upserts(spark, [(1, 0, "0" * MAX_BITS)]), 0)
        snap = load_snapshot(root)
        orphan = dict(snap.manifest)
        orphan["version"] = 2
        mdir = os.path.join(root, "_manifest")
        with open(os.path.join(mdir, "v00000002.json"), "w") as f:
            json.dump(orphan, f)
        # LATEST untouched -> still version 1
        assert current_version(root) == 1
        assert load_snapshot(root).version == 1
        # replay/next batch claims version 2 cleanly
        merge(_upserts(spark, [(2, 1, "1" * MAX_BITS)]), 1)
        assert load_snapshot(root).version == 2
        assert read_store(spark, root).count() == 2


class TestServeDuringDrain:
    """Round-12 second wave: the serving path runs INSIDE the drain's
    foreachBatch against the last committed snapshot, and time travel
    replays any committed version after the fact."""

    def test_drain_commits_two_seq_aligned_versions(self, spark, sf_dir):
        from akka_streams_kinesis_spark.operators.standing_index import (
            _ensure_tt_index,
        )

        root, served = _ensure_tt_index(spark, sf_dir)
        assert current_version(root) == 2
        rec = spark.read.parquet(served)
        # only batch 1 served (batch 0 had no committed snapshot), and it
        # read pinned v1
        assert {
            (r["batch_id"], r["version"])
            for r in rec.select("batch_id", "version").distinct().collect()
        } == {(1, 1)}

    def test_first_put_file_count_is_a_proper_prefix(self, spark, sf_dir):
        import os as _os

        from akka_streams_kinesis_spark.operators.standing_index import (
            _ann_upsert_stream,
            _first_put_file_count,
        )

        stream = _ann_upsert_stream(spark, sf_dir)
        total = sum(
            1
            for _, _, files in _os.walk(stream.data_dir)
            for f in files
            if f.endswith(".parquet")
        )
        n0 = _first_put_file_count(stream)
        assert 0 < n0 < total

    def test_anchorless_search_schema(self, spark, sf_dir):
        from akka_streams_kinesis_spark.operators.standing_index import (
            _TT_SEARCH_COLS,
            _ensure_standing_index,
            _standing_search,
        )

        root = _ensure_standing_index(spark, sf_dir)
        df = _standing_search(spark, root, anchor=False)
        assert tuple(df.columns) == _TT_SEARCH_COLS

    def test_time_travel_versions_differ_on_flipped_queries(
        self, spark, sf_dir
    ):
        """Queries 0 and 7 are vec_id % 7 == 0, so their vectors flip
        between v1 and v2 — the two versions' rankings must not be
        identical, and unflipped queries' CANDIDATE CELLS (their own c8)
        stay put."""
        from akka_streams_kinesis_spark.operators.standing_index import (
            similarity_standing_index_time_travel,
        )

        rows = similarity_standing_index_time_travel(spark, sf_dir).collect()
        assert len(rows) > 0
        by_v = {
            v: sorted(
                (r["query_id"], r["rnk"], r["vec_id"])
                for r in rows
                if r["version"] == v
            )
            for v in (1, 2)
        }
        assert set(by_v) == {1, 2} and by_v[1] != by_v[2]

    def test_time_travel_raises_on_tampered_serving_record(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """The replay-equals-served raise is armed: corrupt one served
        row (on a COPY of the cached build) and the query must refuse."""
        import pyarrow.parquet as _pq

        from akka_streams_kinesis_spark.operators import standing_index as si

        src_root, _src_served = si._ensure_tt_index(spark, sf_dir)
        base = str(tmp_path / "tt_tampered")
        shutil.copytree(os.path.dirname(src_root), base)
        served = os.path.join(base, "served")
        p = next(
            os.path.join(d, f)
            for d, _, files in os.walk(served)
            for f in files
            if f.endswith(".parquet")
        )
        t = _pq.read_table(p)
        vec = t["vec_id"].to_pylist()
        vec[0] = -12345
        idx = t.schema.get_field_index("vec_id")
        t = t.set_column(
            idx, "vec_id", pa.array(vec, t.schema.field("vec_id").type)
        )
        _pq.write_table(t, p)
        for d, _, files in os.walk(served):
            # stale Hadoop checksum sidecars from the copy would turn the
            # tamper into a read error instead of a divergence
            for crc in files:
                if crc.endswith(".crc"):
                    os.remove(os.path.join(d, crc))

        real = si.derived_dir

        def _redirect(spark_, sf, name, build):
            if name == "annidx_timetravel":
                return base
            return real(spark_, sf, name, build)

        monkeypatch.setattr(si, "derived_dir", _redirect)
        with pytest.raises(RuntimeError, match="diverges"):
            si.similarity_standing_index_time_travel(spark, sf_dir).collect()

    def test_serving_record_is_replay_idempotent(
        self, spark, sf_dir, tmp_path
    ):
        """At-least-once foreachBatch redelivery: a crash between the
        serve and the merge commit replays the batch — the replayed
        serve reads the SAME committed snapshot (the merge hadn't
        committed) and must overwrite, not duplicate, its record."""
        from akka_streams_kinesis_spark.operators.standing_index import (
            _ensure_tt_index,
            _read_served,
            _serve_and_record,
        )

        src_root, src_served = _ensure_tt_index(spark, sf_dir)
        root = str(tmp_path / "replay_index")
        served = str(tmp_path / "replay_served")
        shutil.copytree(src_root, root)
        shutil.copytree(src_served, served)
        # pin the index back to v1 (what batch 1 saw mid-drain): replays
        # of batch 1 re-read v1 because v2's commit never happened
        mdir = os.path.join(root, "_manifest")
        with open(os.path.join(mdir, "LATEST"), "w") as f:
            f.write("1")
        before = sorted(map(tuple, _read_served(spark, served).collect()))
        _serve_and_record(spark, root, served, 1)  # replay once
        _serve_and_record(spark, root, served, 1)  # and again
        after = sorted(map(tuple, _read_served(spark, served).collect()))
        assert after == before

    def test_time_travel_outside_retention_raises(self, spark, sf_dir, tmp_path):
        """vacuum(retain=1) reclaims v1's manifest and superseded files:
        a reader pinning the vacuumed version must get the explicit
        missing-manifest raise (never a partial read), while the
        retained latest stays fully readable."""
        from akka_streams_kinesis_spark.operators.standing_index import (
            _ensure_tt_index,
        )

        src_root, _ = _ensure_tt_index(spark, sf_dir)
        root = str(tmp_path / "vacuumed_tt")
        shutil.copytree(src_root, root)
        stats = vacuum(root, retain=1)
        assert stats["retained_versions"] == [2]
        with pytest.raises(RuntimeError, match="manifest v1 missing"):
            load_snapshot(root, 1)
        assert load_snapshot(root).version == 2
        assert read_store(spark, root).count() > 0


def test_scratch_copy_hardlink_isolation(tmp_path):
    """The maintenance scratch copy hardlinks the cached index; the
    writer protocol (tmp + rename) and vacuum (unlink) must only ever
    swap the SCRATCH directory entry, never the shared source inode."""
    import os

    from akka_streams_kinesis_spark.operators.standing_index import (
        _scratch_copy,
    )

    src = tmp_path / "src" / "store" / "c8=b0"
    src.mkdir(parents=True)
    f = src / "part-00000.parquet"
    f.write_bytes(b"ORIGINAL")
    _scratch_copy(str(tmp_path / "src"), str(tmp_path / "work"))
    wf = tmp_path / "work" / "store" / "c8=b0" / "part-00000.parquet"
    assert wf.read_bytes() == b"ORIGINAL"
    # publish protocol: write sibling tmp, rename over the final name
    tmpf = wf.parent / ".tmp-rewrite"
    tmpf.write_bytes(b"REWRITTEN")
    os.replace(tmpf, wf)
    assert f.read_bytes() == b"ORIGINAL"
    assert wf.read_bytes() == b"REWRITTEN"
    # vacuum protocol: unlink a scratch file
    os.unlink(wf)
    assert f.read_bytes() == b"ORIGINAL"


def test_marker_compaction_deterministic_run_over_run(spark, sf_dir):
    """Compaction works on a hardlinked scratch of the cached drained
    snapshot: a second invocation must re-copy from an UNTOUCHED source
    and reproduce the identical report (any in-place mutation of the
    shared inodes by run #1 would surface here)."""
    q = registry.QUERIES["maintenance_ann_marker_compaction"]
    first = [tuple(r) for r in q(spark, sf_dir).collect()]
    second = [tuple(r) for r in q(spark, sf_dir).collect()]
    assert first == second


def test_standing_exact_anchor_matches_fold_ranking(spark, sf_dir):
    """The r13 GEMM exact anchor must return exactly the pairs of the
    old BroadcastNestedLoopJoin + JVM-fold + full-window formulation
    (same ROUND(sim,6) DESC, vec_id order) — the hit_exact semantics of
    both standing-index consumers hang off this set."""
    from pyspark.sql import Window

    from akka_streams_kinesis_spark.operators.similarity import cosine_sim
    from akka_streams_kinesis_spark.operators.standing_index import (
        _SI_K,
        _SI_NQ,
        _ensure_standing_index,
        _si_exact_anchor,
    )
    from akka_streams_kinesis_spark.streaming.ann_index import (
        load_snapshot,
        read_store,
    )

    root = _ensure_standing_index(spark, sf_dir)
    snap = load_snapshot(root)
    full = read_store(spark, root, snapshot=snap).select("vec_id", "embedding")
    q_emb = full.filter(F.col("vec_id") < _SI_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    ref = (
        full.join(F.broadcast(q_emb), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_sim("q_emb", "embedding"), 6).alias("sim"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _SI_K)
        .select("query_id", "vec_id")
    )
    got = _si_exact_anchor(spark, root, snap, q_emb)
    want_rows = sorted(map(tuple, ref.collect()))
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows == want_rows


def test_time_travel_fused_matches_per_version_searches(spark, sf_dir):
    """The r13 fused two-version time-travel plan must reproduce the old
    two-independent-searches formulation row for row (both versions)."""
    from akka_streams_kinesis_spark.operators.standing_index import (
        _TT_SEARCH_COLS,
        _ensure_tt_index,
        _standing_search,
        similarity_standing_index_time_travel,
    )
    from akka_streams_kinesis_spark.streaming.ann_index import load_snapshot

    root, _served = _ensure_tt_index(spark, sf_dir)
    want = []
    for v, label in ((1, "pre_update"), (2, "post_update")):
        snap = load_snapshot(root, v)
        want.extend(
            map(
                tuple,
                _standing_search(spark, root, snapshot=snap, anchor=False)
                .select(
                    F.lit(v).cast("long").alias("version"),
                    F.lit(label).alias("state"),
                    *_TT_SEARCH_COLS,
                )
                .collect(),
            )
        )
    got = list(
        map(
            tuple,
            similarity_standing_index_time_travel(spark, sf_dir).collect(),
        )
    )
    assert sorted(got) == sorted(want)
