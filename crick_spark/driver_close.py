"""The one decide-and-use step for bounded driver-side closes.

Several operators have a driver twin: when their input relation is small
enough, one collect plus a Python/numpy kernel replaces a chain of tiny
Spark jobs (union-find instead of star-contraction rounds, numpy h-index
instead of per-round joins, a driver EM loop instead of per-round
aggregates).  Each site must decide "small enough?" and then use the
rows, without running the input plan twice.  ``driver_close`` is that
step, shared by every site:

1. ``localCheckpoint(eager=True)`` runs the input plan exactly once;
2. ``count()`` on the checkpoint decides the tier (reads cached blocks);
3. at or under the cap, one parallel ``toArrow()`` of the checkpoint
   feeds the kernel.

Over the cap the caller keeps the returned checkpoint as its distributed
input, so the plan has still run once on either tier.  Count-then-Arrow
beats a bounded ``limit(cap + 1).collect()``: CollectLimit pulls
partitions one after another (measured 0.5-0.9 s at 1.2 M rows in the r15
optimization round) where the count plus parallel Arrow collect took
0.1 s + 0.25 s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def driver_close(df: DataFrame, cap: int):
    """Materialize ``df`` once and collect it when it has ≤ ``cap`` rows.

    Returns ``(checkpointed, table)``: ``checkpointed`` is ``df``
    localCheckpoint-ed (use it instead of ``df`` from here on), and
    ``table`` is its full ``pyarrow.Table`` when the row count is at most
    ``cap``, else ``None``.  An empty frame always closes on the driver
    (0 ≤ cap for any cap ≥ 0)."""
    ck = df.localCheckpoint(eager=True)
    if ck.count() > cap:
        return ck, None
    return ck, ck.toArrow()
