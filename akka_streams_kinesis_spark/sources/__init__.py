"""Streaming sources: the file-backed simulated sharded stream (Kinesis-shaped)."""

from .kinesis_sim import (  # noqa: F401
    AtTimestamp,
    IteratorType,
    Latest,
    SimStream,
    TrimHorizon,
)
