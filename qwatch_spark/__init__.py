"""qwatch_spark — a PySpark-native CDC / incremental-ingest engine.

Brand-new engine with the query/data-processing capabilities of
qnib/qwatch (a Go collector→filter→output CDC apply pipeline; see
SURVEY.md), re-expressed Spark-first:

- change feed (binlog/WAL-style insert/update/delete events keyed by
  ``url``) → vectorized filter rules → dedup-to-latest → exactly-once
  MERGE into a bucketed snapshot lake table (Iceberg-style manifest
  commits, no external jars required);
- schema evolution resolved at apply time;
- skew-aware salted aggregation before the key-partitioned upsert;
- per-epoch, per-bucket lineage + throughput metrics;
- Structured Streaming runner with checkpointed resume.
"""

__version__ = "0.2.0"

# first: inside a Spark Python worker, stops every task from re-reading
# each zip archive on the worker's path (see zipimport_gate)
from qwatch_spark import zipimport_gate  # noqa: F401

from qwatch_spark.config import PipelineConfig  # noqa: F401
from qwatch_spark.operators.apply import apply_changes, replay_feed  # noqa: F401
from qwatch_spark.operators.dedup import latest_wins  # noqa: F401
from qwatch_spark.operators.entities import (  # noqa: F401
    EntitySpec,
    LinkSpec,
    apply_entity_changes,
    create_entity_tables,
    load_entity_specs,
)
from qwatch_spark.operators.rules import apply_rules  # noqa: F401
from qwatch_spark.plans.snapshot_table import SnapshotTable  # noqa: F401
from qwatch_spark.sinks import ConsoleSink, MemorySink, ParquetSink, Sink  # noqa: F401
from qwatch_spark.streaming import run_entity_stream, run_stream  # noqa: F401
