"""Fused edge-set operations (extension — the reference has union only).

Lives in its own module rather than as a GraphStream method for a
measured reason (r17): the certification fingerprint of every registered
query transitively includes its owner modules' source, and
``operators/graphstream.py`` is an owner of ~40 queries — adding one
operator there marked the whole §2 reference-operator table stale at
once, overflowing the driver's 50-slot re-certification window. A
separate module scopes the fingerprint blast radius to the queries that
actually call it (q11b).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gelly_streaming_spark.operators.graphstream import GraphStream


def intersect_difference(
    left_stream: GraphStream,
    other: GraphStream,
    assume_both_distinct: bool = False,
    marker: str = "in_both",
) -> GraphStream:
    """Fused INTERSECT + EXCEPT in ONE probe: every left edge comes back
    exactly once, tagged ``marker=True`` (it is also in ``other`` — the
    intersect side) or ``False`` (the except side).

    A caller needing BOTH sides otherwise runs ``GraphStream.intersect``
    and ``GraphStream.difference`` over the same pair — two joins that
    scan the left twice and build the SAME hash relation on ``other``
    twice (the q11b r16 plan audit showed two BroadcastExchange builds of
    one filtered view). One left join computes both memberships in a
    single build + single probe: half the join work, and at 100 TB half
    the shuffles when the join is too big to broadcast.

    Same null contract as ``GraphStream.intersect``. Unlike its
    semi-join, which deduplicates the left side only, a LEFT join
    multiplies rows on right-side duplicates, so both sides are
    deduplicated unless ``assume_both_distinct`` declares both sides
    sets already."""
    left = left_stream.edges.select("src", "dst")
    right = other.edges.select("src", "dst")
    if not assume_both_distinct:
        left = left.dropDuplicates(["src", "dst"])
        right = right.dropDuplicates(["src", "dst"])
    marked = left.join(
        right.withColumn("_m", F.lit(True)), ["src", "dst"], "left"
    ).select(
        "src", "dst", F.coalesce(F.col("_m"), F.lit(False)).alias(marker)
    )
    return GraphStream(marked)
