"""Fan-out stage parallelism for compute-heavy narrow chains.

A row-local pipeline (explode fan-outs, per-row hashing, Arrow batch
kernels) inherits the SCAN's partitioning: a source that arrives as one
file / one row group runs the entire downstream narrow chain on one
task, no matter how many cores the session has — the multiplied work
(e.g. a 100x bootstrap-replicate explode, a q-gram shingle + md5 sort)
serializes on a single core until the first exchange.

:func:`spread` widens such a frame to the session's default parallelism
BEFORE the expensive narrow stage.  It is scale-adaptive, not a local
tuning constant: a production input that already arrives wide (many
files / AQE-coalesced shuffle) is returned unchanged — the shuffle is
only paid when the input is narrower than the session's cores, exactly
the case where the fan-out would otherwise straggle on one task.  The
round-robin exchange moves the SMALL pre-fan-out rows, never the
multiplied output.

The fan-out width carries a COMPUTE FLOOR (guide §2.4): a ~100 KB frame
split 32 ways pays 32 task launches + 32 Arrow batch setups for
sub-millisecond slices of work — measured at sf0.1, several UDF fan-out
queries ran FASTER on local[8] than local[32] purely from this
overhead.  The width is capped at ``ceil(estimated_bytes /
SPREAD_BYTES_PER_TASK)`` using Catalyst's optimized-plan size estimate
(driver-side, no job): tiny frames get a handful of tasks, anything
beyond ~2 MB saturates the session's parallelism, and at fact scale the
estimate is huge so the cap never binds — the floor is a lower bound on
per-task work, not a local core-count constant.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

__all__ = ["spread"]

# Minimum estimated input bytes a fan-out task should own.  Compressed
# parquet text expands 3-5x in memory and the downstream kernels
# (shingling, md5, inverse-CDF sampling) multiply work further, so 64 KB
# of input is tens of milliseconds of compute — enough to amortize the
# ~10 ms task launch.  A work-per-task bound, not a core count;
# callers with different scheduling costs pass ``bytes_per_task``.
_BYTES_PER_TASK = 1 << 16

# Catalyst returns Long.MaxValue-ish estimates when it cannot size a
# plan; treat anything absurd as "unknown" and keep full parallelism.
_EST_SANE_MAX = 1 << 50


def _estimated_bytes(df: DataFrame) -> Optional[int]:
    """Catalyst's optimized-plan size estimate (driver-side, no job);
    ``None`` when unavailable or not credible."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 - estimation only tunes, never gates
        return None
    if est <= 0 or est > _EST_SANE_MAX:
        return None
    return est


def spread(
    df: DataFrame,
    min_parts: Optional[int] = None,
    bytes_per_task: Optional[int] = None,
) -> DataFrame:
    """Repartition ``df`` round-robin to at least the session's default
    parallelism (or ``min_parts``) — a no-op when it is already that
    wide, and capped by the compute floor above so tiny frames are not
    shredded into sub-millisecond tasks.  Row-local results are
    unaffected (every downstream operator here is partitioning-
    agnostic); only stage parallelism changes.

    ``bytes_per_task`` overrides the floor for call sites whose kernel
    cost per input byte is far from typical (a q-gram + md5 sort over
    short strings does seconds of work from kilobytes — pass a small
    value; a cheap projection can pass a large one)."""
    if min_parts is not None:
        target = int(min_parts)
    else:
        target = int(df.sparkSession.sparkContext.defaultParallelism)
        est = _estimated_bytes(df)
        if est is not None:
            target = min(target, -(-est // int(bytes_per_task or _BYTES_PER_TASK)))
    if target <= 1:
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
