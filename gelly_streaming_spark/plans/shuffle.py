"""Shuffle width of the driver loops in ``algos/``.

A distributed graph loop runs many small rounds, and each round's
exchanges default to the session's full ``spark.sql.shuffle.partitions``.
On a contracted or small graph every job at that width is pure
task-launch and AQE-replan overhead (measured ~25% of the alternating-CC
wall clock on the q15d graph; 32-way exchanges on a 1k-vertex PageRank
snapshot). Static right-sizing up front beats AQE discovering the same
coalesce per stage, per job.

The policy, in one place: a loop that has measured ``rows`` runs at
``rows // per_partition + 1`` partitions (500k rows each by default),
never wider than the session's own setting, so a 100 TB run keeps its
configured width. Before its first job a loop has measured nothing:
``loop_width_from_plan`` sizes the scope from the plan's size estimate
(64 MB per partition) and the loop re-sizes from its first observed
count, so the scope also covers the first materialization of the loop
invariants (outside it, each of their shuffles ran at full width and,
with AQE on, as a job of its own). Loops whose measured tiny regime is
AQE-replan bound (PageRank, both CC loops) also turn AQE off at 4
partitions or fewer; the others leave it alone (BFS measured slower with
AQE off: its frontier join wants AQE's empty/broadcast shortcuts). Both
settings are restored on exit, exception or not. While the scope is open
they are session-wide: a second thread on the session read width 1 with
AQE off in 315 of 1059 samples taken during a forced-distributed
PageRank (ROADMAP item 2: make the width a property of the plan).
"""

from __future__ import annotations

from contextlib import AbstractContextManager, contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

_PARTS = "spark.sql.shuffle.partitions"
_AQE = "spark.sql.adaptive.enabled"


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate of ``df`` (parquet footer
    sizes; no job runs), or a huge value when it is unknown."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()  # noqa: SLF001
        )
    except Exception:
        return 1 << 62  # unknown — treat as large


@contextmanager
def loop_shuffle_width(
    spark: SparkSession,
    rows: int,
    per_partition: int = 500_000,
    aqe_off_when_tiny: bool = False,
) -> Iterator[Callable[[int, int], int]]:
    """Run the ``with`` body at the width ``rows`` calls for. Yields
    ``resize(rows, per_partition=500_000)``, which re-applies the policy
    to a row count measured mid-loop and returns the new width."""
    conf = spark.conf
    old_parts, old_aqe = conf.get(_PARTS), conf.get(_AQE)

    def resize(rows: int, per_partition: int = 500_000) -> int:
        width = max(1, min(int(old_parts), rows // per_partition + 1))
        conf.set(_PARTS, str(width))
        if aqe_off_when_tiny:
            conf.set(_AQE, "false" if width <= 4 else old_aqe)
        return width

    try:
        resize(rows, per_partition)
        yield resize
    finally:
        conf.set(_PARTS, old_parts)
        conf.set(_AQE, old_aqe)


def loop_width_from_plan(
    df: DataFrame, aqe_off_when_tiny: bool = False
) -> AbstractContextManager[Callable[[int, int], int]]:
    """``loop_shuffle_width`` for a loop whose first job materializes
    ``df``: sized from its plan estimate at 64 MB per partition."""
    return loop_shuffle_width(
        df.sparkSession, _estimated_bytes(df), 64 << 20, aqe_off_when_tiny
    )
