"""Round-11 invariants for the incremental IVF index
(streaming/ann_index.py), updated to the round-12 manifest protocol:

- the batch path must make NO direct os/shutil filesystem calls (all IO
  routes through pyarrow.fs; drained partitions leave the MANIFEST, no
  rmtrees);
- the manifest — covering store, idmap AND directory — commits LAST and
  atomically, so a replay of a batch that crashed at any pre-commit
  point re-derives everything from the intact pre-batch snapshot;
- any chopping of the upsert stream, with at-least-once redelivery,
  must converge to the same index a full rebuild produces (latest-wins
  is associative/commutative/idempotent).

These drive ``index_merger`` directly with hand-built batch DataFrames —
no streaming runtime — which is exactly why the merger is exposed.
Round-12-specific additions (snapshot isolation, mock object-store
filesystem, vacuum, schema widening) live in tests/test_round12.py.
"""

from __future__ import annotations

import os
import re
import shutil

import pyspark.sql.functions as F
import pytest

from akka_streams_kinesis_spark.streaming.ann_index import (
    COARSE_BITS,
    MAX_BITS,
    assign_cells,
    index_merger,
    probe_cells,
    read_directory,
    read_idmap,
    read_store,
)

_SRCS = [
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "akka_streams_kinesis_spark",
        "streaming",
        name,
    )
    for name in ("ann_index.py", "snapshot_store.py")
]


def _code(bits12: str) -> str:
    assert len(bits12) == MAX_BITS
    return bits12


def _upserts(spark, rows):
    """rows: (vec_id, seq, 12-bit code string)."""
    return spark.createDataFrame(rows, "vec_id long, seq long, code string")


def _rebuild(spark, final_rows):
    return (
        assign_cells(
            _upserts(spark, final_rows).select("vec_id", "code")
        )
        .groupBy("cell", "depth")
        .agg(F.count("*").alias("n_vecs"))
    )


def _directory_set(spark, root):
    return {
        (r["cell"], r["depth"], r["n_vecs"])
        for r in read_directory(spark, root).collect()
    }


def _rebuild_set(spark, final_rows):
    return {
        (r["cell"], r["depth"], r["n_vecs"])
        for r in _rebuild(spark, final_rows).collect()
    }


@pytest.fixture
def root(tmp_path):
    return str(tmp_path / "annidx")


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
