"""GraphStream — the engine's core abstraction.

Reference parity: GraphStream / SimpleEdgeStream
(REF:src/main/java/org/apache/flink/graph/streaming/GraphStream.java [H],
REF:.../SimpleEdgeStream.java [H]). The reference wraps a Flink
``DataStream<Edge<K,EV>>``; here the graph is an edge **DataFrame** with
canonical columns ``src, dst`` plus optional ``val`` (edge value;
reference NullValue ≙ NULL / absent) and ``ts`` (event time). The same
class wraps a batch DataFrame or a streaming DataFrame — every operator
below is expressed with operations valid in both modes unless noted.

Design-for-scale notes per operator are inline; the common principles:
- everything stays a lazy DataFrame plan (Catalyst prunes/pushes down);
- no driver-side materialization, no RDDs, no row-at-a-time Python;
- aggregations rely on Spark's automatic partial (map-side) + final
  aggregation, so the explode in ``degrees`` never shuffles raw edges ×2
  — only per-partition partial counts.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EDGE_COLS = ("src", "dst")


class GraphStream:
    """An (unbounded or bounded) stream of directed edges.

    Parameters
    ----------
    edges : DataFrame with at least ``src`` and ``dst`` columns; ``val``
        and ``ts`` are optional and preserved through transformations.
    """

    def __init__(self, edges: DataFrame):
        missing = [c for c in EDGE_COLS if c not in edges.columns]
        if missing:
            raise ValueError(f"edge DataFrame missing required columns: {missing}")
        self.edges = edges

    # ------------------------------------------------------------------
    # construction helpers
    # ------------------------------------------------------------------
    @property
    def _extra_cols(self) -> list[str]:
        return [c for c in self.edges.columns if c not in EDGE_COLS]

    def with_watermark(self, delay: str, ts_col: str = "ts") -> "GraphStream":
        """Event-time mode (reference: ascending-timestamp ctor,
        REF:.../SimpleEdgeStream.java:~65 [M]); watermarks generalize the
        reference's in-order assumption to bounded disorder."""
        return GraphStream(self.edges.withWatermark(ts_col, delay))

    # ------------------------------------------------------------------
    # transformations (reference T1–T6)
    # ------------------------------------------------------------------
    def map_edges(self, expr: Column, as_col: str = "val") -> "GraphStream":
        """T1 mapEdges — transform the edge value; src/dst immutable
        (REF:.../SimpleEdgeStream.java:~200 [H]). Pure column expression ⇒
        stays inside whole-stage codegen."""
        return GraphStream(self.edges.withColumn(as_col, expr))

    def filter_edges(self, pred: Column) -> "GraphStream":
        """T2 filterEdges (REF:.../SimpleEdgeStream.java:~230 [H]).
        Predicate is a Column ⇒ Catalyst pushes it into the parquet scan."""
        return GraphStream(self.edges.where(pred))

    def filter_vertices(self, pred: Callable[[Column], Column]) -> "GraphStream":
        """T3 filterVertices — keep an edge only if BOTH endpoints pass
        (REF:.../SimpleEdgeStream.java:~250 [H]). ``pred`` maps a vertex-id
        column to a boolean column; applied to src and dst."""
        return GraphStream(
            self.edges.where(pred(F.col("src")) & pred(F.col("dst")))
        )

    def filter_on_vertices(self, vertices: DataFrame) -> "GraphStream":
        """Attribute-based filterVertices: semi-join both endpoints against
        a (possibly filtered) vertex table with an ``id`` column.

        Scale: two left-semi joins with NO static broadcast hint — AQE's
        runtime size check broadcasts the vertex side when it actually
        fits and falls back to a shuffled semi-join when it doesn't (a
        forced hint would push a billion-id vertex table into the 8 GB
        broadcast cap at the 100 TB scale this operator targets)."""
        v = vertices.select("id")
        out = (
            self.edges.join(v, F.col("src") == F.col("id"), "left_semi")
            .join(v, F.col("dst") == F.col("id"), "left_semi")
        )
        return GraphStream(out)

    def reverse(self) -> "GraphStream":
        """T4 reverse — swap src/dst (REF:.../SimpleEdgeStream.java:~360 [H]).
        Pure projection: zero shuffle."""
        cols = [F.col("dst").alias("src"), F.col("src").alias("dst")] + [
            F.col(c) for c in self._extra_cols
        ]
        return GraphStream(self.edges.select(*cols))

    def undirected(self) -> "GraphStream":
        """T5 undirected — emit each edge in both directions
        (REF:.../SimpleEdgeStream.java:~380 [H]). unionAll of two scans of
        the same source; Catalyst reuses the exchange/scan where possible."""
        return GraphStream(self.edges.unionByName(self.reverse().edges))

    def distinct(self) -> "GraphStream":
        """T6 distinct — drop duplicate (src,dst) pairs
        (REF:.../SimpleEdgeStream.java:~330 [L]). Batch: dropDuplicates
        (hash-agg, partial+final). Streaming: state-backed dropDuplicates —
        pair with with_watermark to bound state."""
        return GraphStream(self.edges.dropDuplicates(["src", "dst"]))

    def union(self, other: "GraphStream") -> "GraphStream":
        """U1 union — bag union, no dedup (REF:.../SimpleEdgeStream.java:~420 [H])."""
        common = [c for c in self.edges.columns if c in other.edges.columns]
        return GraphStream(
            self.edges.select(*common).unionByName(other.edges.select(*common))
        )

    def intersect(self, other: "GraphStream") -> "GraphStream":
        """Set intersection on (src, dst) — extension, the reference has
        union only. Distributed as a SEMI-JOIN, the scalable form of
        INTERSECT: right-side duplicates are irrelevant to a semi-join,
        so only the left is deduplicated. Edge keys are non-null by the
        engine's schema contract; NULL keys would drop here where SQL
        INTERSECT keeps them."""
        left = self.edges.select("src", "dst").dropDuplicates(["src", "dst"])
        return GraphStream(
            left.join(other.edges.select("src", "dst"), ["src", "dst"], "left_semi")
        )

    def difference(self, other: "GraphStream") -> "GraphStream":
        """Set difference on (src, dst) (extension) — anti-join form; same
        distinctness/null contract as :meth:`intersect`."""
        left = self.edges.select("src", "dst").dropDuplicates(["src", "dst"])
        return GraphStream(
            left.join(other.edges.select("src", "dst"), ["src", "dst"], "left_anti")
        )

    # ------------------------------------------------------------------
    # vertex / property streams (reference A1–A4)
    # ------------------------------------------------------------------
    def vertices(self) -> DataFrame:
        """Distinct vertex ids (reference getVertices,
        REF:.../GraphStream.java:~60 [H]). Streaming: state-backed distinct."""
        return (
            self.edges.select(F.col("src").alias("id"))
            .unionByName(self.edges.select(F.col("dst").alias("id")))
            .dropDuplicates(["id"])
        )

    def degrees(self) -> DataFrame:
        """A1 getDegrees — per-vertex degree counting both endpoints
        (REF:.../SimpleEdgeStream.java:~150 [H]).

        Plan shape: explode endpoints → hash-agg. Spark plans a map-side
        partial count before the shuffle, so the exchange moves at most
        (#distinct vertices per partition) rows, not 2×edges. Streaming:
        same plan in update output mode (per-micro-batch re-emission —
        semantic delta D1, SURVEY.md §7.4)."""
        ids = self.edges.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("id")
        )
        return ids.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))

    def in_degrees(self) -> DataFrame:
        """A2 inDegrees (REF:.../SimpleEdgeStream.java:~175 [H])."""
        return self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).alias("degree")
        )

    def out_degrees(self) -> DataFrame:
        """A2 outDegrees (REF:.../SimpleEdgeStream.java:~185 [H])."""
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("degree")
        )

    def in_out_degrees(self) -> DataFrame:
        """A2 fused in+out degrees in ONE aggregation pass: rows
        (id, in_degree, out_degree).

        Plan shape: tag-and-explode both endpoints, then a single
        groupBy(id) with conditional counts — one shuffle of the vertex
        set instead of two shuffled aggregations joined full-outer
        (which shuffles the vertex set three times). At 100 TB that's
        two whole exchanges removed; vertices missing an in- or
        out-edge naturally count 0 without the outer-join coalesce."""
        ex = self.edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("dst").alias("id"), F.lit(True).alias("is_in")),
                    F.struct(F.col("src").alias("id"), F.lit(False).alias("is_in")),
                )
            ).alias("x")
        ).select("x.id", "x.is_in")
        return ex.groupBy("id").agg(
            F.count_if(F.col("is_in")).alias("in_degree"),
            F.count_if(~F.col("is_in")).alias("out_degree"),
        )

    def number_of_edges(self) -> DataFrame:
        """A3 numberOfEdges (REF:.../GraphStream.java:~80 [M])."""
        return self.edges.groupBy().agg(F.count(F.lit(1)).alias("m"))

    def number_of_vertices(self) -> DataFrame:
        """A4 numberOfVertices (REF:.../SimpleEdgeStream.java:~130 [M]).

        Batch input counts exactly (``count_distinct``, the oracle
        contract). Structured Streaming rejects distinct aggregations, so
        a streaming source counts with HyperLogLog
        (``approx_count_distinct``, 5% relative standard deviation) —
        chosen from ``edges.isStreaming``."""
        ids = self.edges.select(F.col("src").alias("id")).unionByName(
            self.edges.select(F.col("dst").alias("id"))
        )
        agg = (
            F.approx_count_distinct("id")
            if self.edges.isStreaming
            else F.count_distinct(F.col("id"))
        ).alias("n")
        return ids.groupBy().agg(agg)

    # ------------------------------------------------------------------
    # windows / aggregations (wired in operators.windows / .aggregation)
    # ------------------------------------------------------------------
    def slice(
        self,
        size: str,
        direction: str = "out",
        slide: Optional[str] = None,
        ts_col: str = "ts",
    ) -> "GraphWindowStream":
        """W1 slice — discretize into per-vertex tumbling windows
        (REF:.../SimpleEdgeStream.java:~400 [H]); see operators.windows."""
        from gelly_streaming_spark.operators.windows import GraphWindowStream

        return GraphWindowStream.from_stream(self, size, direction, slide, ts_col)

    def aggregate(self, summary_aggregation) -> DataFrame:
        """A6 aggregate(SummaryAggregation) (REF:.../SummaryAggregation.java [H])."""
        return summary_aggregation.run(self)

    def global_aggregate(self, agg_cols: list[Column]) -> DataFrame:
        """A5 globalAggregate — single global state over every edge
        (REF:.../SimpleEdgeStream.java:~450 [M]) for *algebraic* updates.
        Spark plans partial aggregation per partition + one final merge, so
        the parallelism-1 step only sees #partitions partial rows (the
        reference funnels every record through one subtask). Non-algebraic
        global state goes through SummaryAggregation instead."""
        return self.edges.groupBy().agg(*agg_cols)
