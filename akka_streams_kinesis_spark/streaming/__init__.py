"""Streaming egress (batching/retrying writer) and streaming analytics."""

from .writer import (  # noqa: F401
    AWS_MAX_BUFFER_SIZE,
    DEFAULT_SENDING_THRESHOLD,
    KINESIS_BACKOFF_SECONDS,
    THROUGHPUT_EXCEEDED,
    encode_records,
    kinesis_write_flow,
    with_retries,
)
