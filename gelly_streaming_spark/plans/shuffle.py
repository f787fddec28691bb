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
configured width. Loops whose measured tiny regime is AQE-replan bound
(PageRank, both CC loops) also turn AQE off at 4 partitions or fewer;
the others leave it alone (BFS measured slower with AQE off: its
frontier join wants AQE's empty/broadcast shortcuts). Both settings are
restored on exit, exception or not — a loop never changes the
configuration a later query in the same session sees. The loops are
driver-sequential, so no concurrent query observes the interim width.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import SparkSession

_PARTS = "spark.sql.shuffle.partitions"
_AQE = "spark.sql.adaptive.enabled"


@contextmanager
def loop_shuffle_width(
    spark: SparkSession,
    rows: int,
    per_partition: int = 500_000,
    aqe_off_when_tiny: bool = False,
) -> Iterator[Callable[[int, int], int]]:
    """Run the ``with`` body at the width ``rows`` calls for. Yields
    ``resize(rows, per_partition)``, which re-applies the policy to a
    count measured mid-loop and returns the new width."""
    conf = spark.conf
    old_parts, old_aqe = conf.get(_PARTS), conf.get(_AQE)

    def resize(rows: int, per_partition: int = per_partition) -> int:
        width = max(1, min(int(old_parts), rows // per_partition + 1))
        conf.set(_PARTS, str(width))
        if aqe_off_when_tiny:
            conf.set(_AQE, "false" if width <= 4 else old_aqe)
        return width

    try:
        resize(rows)
        yield resize
    finally:
        conf.set(_PARTS, old_parts)
        conf.set(_AQE, old_aqe)
