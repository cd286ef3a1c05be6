"""Lineage truncation for iterative / multiply-consumed intermediates.

The dedup stack and ``connected_components`` truncate lineage at points
where an intermediate is (a) consumed by both sides of a self-join or
(b) rebuilt every iteration of a loop.  Whether that checkpoint is
durable is a deployment setting, not an argument: ``materialize`` reads
the session's checkpoint directory (``spark.checkpoint.dir`` /
``SparkContext.setCheckpointDir``).

- No directory set (the default): ``DataFrame.localCheckpoint`` —
  blocks stored on executor local disk/memory.  Fastest (no DFS
  round-trip) and right for single-node / interactive runs, but an
  executor loss discards its blocks and, because lineage was truncated,
  the WHOLE upstream pipeline replays.
- Directory set: ``DataFrame.checkpoint`` — blocks written to that
  directory (HDFS/S3 on a real cluster).  Pays a DFS write per
  materialization but survives executor loss; the production setting
  for long dedup pipelines at fleet scale, where some executor loss per
  job is the expectation.

Both produce identical results (pinned in ``tests/test_scale_tools.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate lineage for ``df``: a reliable checkpoint when the
    session has a checkpoint directory, a local one otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
