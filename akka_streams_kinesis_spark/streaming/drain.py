"""One owner for draining a stream.

A drain is a Structured Streaming query run with an ``availableNow``
trigger until it has processed everything the source holds, then
terminated. ``drain`` is the only place in the package that starts one:
it owns the trigger, the query name, the checkpoint, the wait for
termination and the state-store cap, so every drain agrees on them.

The sink is either a callable, which becomes ``foreachBatch(sink)``, or a
format name (``"memory"``, ``"parquet"``, ``pyds.FORMAT_NAME``) whose
options are passed as keyword arguments. The terminated query is
returned; its ``recentProgress`` holds the per-batch progress, and a
memory sink's result is ``spark.table(q.name)``.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..shared import scratch_dir, transient_view

# State stores per stateful operator for a non-callable sink. A stateful
# operator materializes one state store per shuffle partition per
# micro-batch, so a 200-partition default session pays 200 store commits
# × batches × stateful stages for state that fits in a handful — pure
# fixed overhead, no result change (state partitioning is internal and
# the drain is complete either way). 16 is sized for these drains' state
# (at most a few hundred thousand keys); production sizing would raise it
# with state volume.
STATE_PARTITIONS = 16


def _state_partitions_override(default: int | None) -> int | None:
    """Resolve the per-drain state-store count: the
    ``SPARK_GRAFT_STATE_PARTITIONS`` env var beats the caller's default —
    an integer forces that count, ``session``/``none`` inherits the
    session's ``spark.sql.shuffle.partitions`` (returns None → no pin).
    The shuffle-256 canary exports ``session`` so its 256-partition run
    exercises stateful operators at 256 state stores too."""
    env_cap = os.environ.get("SPARK_GRAFT_STATE_PARTITIONS")
    if env_cap is None:
        return default
    if env_cap.lower() in ("session", "none"):
        return None
    n = int(env_cap)  # non-numeric garbage raises here, at config time
    if n < 1:
        # fail loudly HERE, not deep inside the first drain with an
        # opaque Spark error (spark.sql.shuffle.partitions must be ≥ 1)
        raise ValueError(
            f"SPARK_GRAFT_STATE_PARTITIONS must be >= 1 or "
            f"'session'/'none', got {env_cap!r}"
        )
    return n


def drain(
    sdf: DataFrame,
    sink,
    *,
    mode: str = "append",
    checkpoint: str | None = None,
    **options,
) -> StreamingQuery:
    """Drain ``sdf`` into ``sink`` with an availableNow trigger and return
    the terminated query; a failed query's error is re-raised.

    With ``checkpoint=None`` the checkpoint is a fresh scratch dir removed
    once the query ends: nothing resumes a terminated availableNow drain.
    A checkpoint the caller passes is kept, for a later drain to resume.

    A non-callable sink pins ``spark.sql.shuffle.partitions`` to
    ``STATE_PARTITIONS`` (or the ``SPARK_GRAFT_STATE_PARTITIONS``
    override) for the drain and restores it afterwards. A callable sink
    keeps the session value, because its batch function runs batch jobs
    under that conf."""
    spark = sdf.sparkSession
    name = f"q_{uuid.uuid4().hex[:10]}"
    writer = (
        sdf.writeStream.queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .options(**options)
    )
    if callable(sink):
        writer, cap = writer.foreachBatch(sink), None
    else:
        writer = writer.format(sink)
        cap = _state_partitions_override(STATE_PARTITIONS)
    ckpt = scratch_dir("ckpt") if checkpoint is None else checkpoint
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if cap is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(cap))
    try:
        q = writer.option("checkpointLocation", ckpt).start()
        if sink == "memory":
            transient_view(spark, name)
        q.awaitTermination()
    finally:
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)
        if cap is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return q
