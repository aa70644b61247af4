"""Aggregation stage — the `info` report.

Mirrors the reference's per-segment `info` (SURVEY.md A3: LogServerDb.info
:58-80; RecordStorage.scala:93-100 min/max ts + count; HeaderStorage
distinct-key count :175) as one declarative groupBy — map-side partial
aggregation makes it one shuffle of tiny partial states regardless of input
size. The per-sink and windowed aggregates (A1, A2) are maintained
incrementally by ``plans.pipeline.refresh_aggregates`` from per-batch
partials, into the ``metrics_sink_stats`` and ``metrics_windowed`` tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def info(records: DataFrame) -> DataFrame:
    """`info`-command analogue over the stored records table (A3, §3.3):
    one row per (sink, day) "segment" sorted by name."""
    return (
        records.groupBy("sink", "day")
        .agg(
            F.count("*").alias("records"),
            F.countDistinct("table", "record_id", "record_hash").alias("hashes"),
            F.min("ts_millis").alias("min_ts"),
            F.max("ts_millis").alias("max_ts"),
        )
        .orderBy("sink", "day")
    )
