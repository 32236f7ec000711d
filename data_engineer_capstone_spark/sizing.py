"""Exchange sizing for expansion joins (SCALE.md rule (c3)).

AQE coalesces exchanges by BYTES, but a pair generator's CPU and
aggregation state scale with Σ freq(key)² of its join key — so byte-sized
partitions either starve the expansion of parallelism (q397: ~100
CPU-core-seconds AQE-coalesced onto 8 tasks because the posting list is
slim) or overflow the partial-aggregation hash maps into sort-fallback
spill (q242: 24.3 GiB memory / 1.8 GiB disk at sf0.1). Operators with
that shape compute their EXACT expansion cardinality from a frequency
histogram (one O(1) scalar job over the materialized index — the q200
count-seeding precedent) and size their expansion join and pair
aggregate with :func:`expansion_partitions`.

The 750k-row default budget keeps each task's hash-agg state around
50-80 MiB of slim (long, long, count) rows — comfortably inside a fair
execution-memory share at 32 concurrent tasks per 16g JVM, and a sane
task size on a real cluster. The floor keeps an explicit repartition
from ever REDUCING parallelism below the session's configured shuffle
width (explicit targets are exact — AQE never widens them); the cap is
a runaway guard for astronomically skewed histograms, far above any
partition count a 1000-executor cluster schedules poorly.

Broadcast gates are sized in BYTES, not rows: an operator that may ship
a side to every task (a broadcast hash join's build side, a driver-built
CSR) states what one of its rows costs on the driver and in the framed
broadcast, and :func:`fits_broadcast` holds rows × that cost to one
:data:`BROADCAST_BYTES` budget. The budget is a fixed constant, not a
setting: 256 MiB keeps the collect and its transient copies a small share
of a driver with a few GiB, and sits far below Spark's 8 GiB broadcast
ceiling.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

ROWS_PER_TASK = 750_000
MAX_PARTITIONS = 65_536
BROADCAST_BYTES = 256 * 1024 * 1024


def broadcast_rows(bytes_per_row: int) -> int:
    """Most rows of ``bytes_per_row`` bytes that fit :data:`BROADCAST_BYTES`
    — the ``limit(n + 1)`` of a bounded collect that gates itself."""
    return BROADCAST_BYTES // bytes_per_row


def fits_broadcast(rows: int, bytes_per_row: int) -> bool:
    """Whether ``rows`` rows of ``bytes_per_row`` bytes fit
    :data:`BROADCAST_BYTES`."""
    return rows <= broadcast_rows(bytes_per_row)


def expansion_partitions(
    spark: SparkSession,
    expansion_rows: int | float | None,
    rows_per_task: int = ROWS_PER_TASK,
) -> int:
    """Partition count for an exchange that carries ``expansion_rows``.

    ``expansion_rows`` is typically Σ c(c-1)/2 over a key-frequency
    histogram (``None``/0 from an empty frame degrades to the session
    width). Returns ``max(defaultParallelism, shuffle.partitions,
    min(65536, expansion_rows // rows_per_task + 1))`` — the floor matches
    the ``_spread`` precedent (operators/dedup.py): an explicit
    repartition(n) is an exact target AQE never widens, so flooring at
    shuffle.partitions alone would cap the expansion below machine width
    in a session configured with shuffle.partitions < core count.
    """
    sp = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    floor = max(spark.sparkContext.defaultParallelism, sp)
    return max(floor, min(MAX_PARTITIONS, int(expansion_rows or 0) // rows_per_task + 1))
