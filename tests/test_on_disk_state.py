"""On-disk state has one owner: ``io.derived_dir`` caches what is a pure
function of the input data, keyed on what produced it; ``release_shared()``
removes everything else a query leaves behind (scratch dirs, drain
checkpoints, memory-sink views) and nothing it should keep."""

from __future__ import annotations

import os
import tempfile

import pytest

from akka_streams_kinesis_spark import registry
from akka_streams_kinesis_spark.io import DERIVED_ROOT, derived_dir
from akka_streams_kinesis_spark.shared import release_shared

registry.load_all()


@pytest.fixture
def tmp_root(tmp_path, monkeypatch) -> str:
    """A private ``tempfile.gettempdir()`` for this test."""
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return str(root)


def _sf_dir(parent) -> str:
    os.makedirs(parent)
    with open(os.path.join(parent, "events.parquet"), "wb") as f:
        f.write(b"events")
    return str(parent)


class _Build:
    """Fake ``build``: writes one file and counts its calls."""

    def __init__(self) -> None:
        self.calls = 0

    def __call__(self, path: str) -> None:
        self.calls += 1
        os.makedirs(path)
        with open(os.path.join(path, "out"), "w") as f:
            f.write("built")


def test_same_basename_gets_different_dirs(spark, tmp_path, tmp_root):
    a = _sf_dir(tmp_path / "a" / "sf0.01")
    b = _sf_dir(tmp_path / "b" / "sf0.01")
    st = os.stat(os.path.join(a, "events.parquet"))
    os.utime(os.path.join(b, "events.parquet"), ns=(st.st_atime_ns, st.st_mtime_ns))
    build = _Build()
    pa, pb = (derived_dir(spark, sf, "stream_once", build) for sf in (a, b))
    assert pa != pb
    assert build.calls == 2
    assert os.path.dirname(pa) == os.path.join(tmp_root, DERIVED_ROOT)


def test_changed_table_file_forces_rebuild(spark, tmp_path, tmp_root):
    sf = _sf_dir(tmp_path / "sf")
    build = _Build()
    before = derived_dir(spark, sf, "stream_once", build)
    with open(os.path.join(sf, "events.parquet"), "wb") as f:
        f.write(b"events, regenerated")
    after = derived_dir(spark, sf, "stream_once", build)
    assert after != before
    assert build.calls == 2


def test_hit_does_not_build(spark, tmp_path, tmp_root):
    sf = _sf_dir(tmp_path / "sf")
    build = _Build()
    first = derived_dir(spark, sf, "stream_once", build)
    assert derived_dir(spark, sf, "stream_once", build) == first
    assert build.calls == 1


def test_partial_dir_without_marker_is_rebuilt(spark, tmp_path, tmp_root):
    sf = _sf_dir(tmp_path / "sf")

    def crash(path: str) -> None:
        os.makedirs(path)
        open(os.path.join(path, "partial"), "w").close()
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError):
        derived_dir(spark, sf, "stream_once", crash)
    build = _Build()
    path = derived_dir(spark, sf, "stream_once", build)
    assert build.calls == 1
    assert os.listdir(path) == ["out"]


LEAK_QUERIES = [
    "stream_ingest_hourly_rollup",
    "stream_exactly_once_sink",
    "source_checkpoint_restart_rollup",
    "stream_observed_ingest_metrics",
    "stream_rollup_table_maintenance",
    "maintenance_schema_evolution_audit",
]


def _checkpoints(root: str) -> list[str]:
    """Spark checkpoints under ``root``: dirs holding offsets/ and commits/."""
    return [d for d, subs, _ in os.walk(root) if {"offsets", "commits"} <= set(subs)]


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_release_shared_leaves_only_the_cache_root(spark, sf_dir, tmp_root):
    release_shared()  # a scratch root from earlier tests lives elsewhere
    views_before = _temp_views(spark)
    for name in LEAK_QUERIES:
        registry.QUERIES[name](spark, sf_dir).collect()
    (scratch_root,) = (e for e in os.listdir(tmp_root) if e != DERIVED_ROOT)
    scratch_root = os.path.join(tmp_root, scratch_root)
    # drain checkpoints are gone as soon as their query terminates
    assert not [e for e in os.listdir(scratch_root) if e.startswith("ckpt_")]
    # ... except the one the restart query passes explicitly to resume it
    kept = [os.path.relpath(c, scratch_root) for c in _checkpoints(scratch_root)]
    assert len(kept) == 1 and kept[0].startswith("ckrestart_"), kept
    assert _temp_views(spark) - views_before  # the drains' memory sinks

    release_shared()

    assert spark.streams.active == []
    assert _temp_views(spark) <= views_before
    assert os.listdir(tmp_root) == [DERIVED_ROOT]
