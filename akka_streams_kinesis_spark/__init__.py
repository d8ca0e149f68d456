"""akka_streams_kinesis_spark — a PySpark-native analytics & streaming engine.

A from-scratch re-expression of the capabilities of
``timeoutdigital/akka-streams-kinesis`` (reference at ``/root/reference``, a
backpressured Akka Streams Kinesis source + batching/retrying Kinesis sink),
rebuilt Spark-first:

- streaming ingest/egress on Structured Streaming (``sources/``, ``streaming/``)
- the full analytic operator surface on DataFrames + Catalyst (``operators/``)
- LLM-data-pipeline operators: dedup, similarity search, text analysis,
  multimodal columns (``operators/``)

Design stance (SURVEY.md §7): declarative DataFrame/SQL plans, zero custom
Catalyst rules, Pandas UDFs only where built-ins cannot express the
semantics, everything partition-aware for 100 TB scale.
"""

__version__ = "0.1.0"

from . import _zipimport  # noqa: F401  (first: every worker importing the package gets it)
from .session import get_session  # noqa: F401
from .io import table, TABLES  # noqa: F401
