"""SummaryAggregation — the reference's core partial-fold + global-merge
pattern over mergeable graph summaries.

Reference parity: SummaryAggregation / WindowGraphAggregation /
SummaryBulkAggregation
(REF:src/main/java/org/apache/flink/graph/streaming/SummaryAggregation.java:~30-90 [H],
REF:.../WindowGraphAggregation.java:~40 [H], REF:.../SummaryBulkAggregation.java [M]).
The reference folds edges into per-key partial summaries (union-find
forests, candidate colorings, adjacency sets), then funnels EVERY partial
through a parallelism-1 ``timeWindowAll`` reduce — its single biggest
scalability flaw (SURVEY.md §7.4.H1).

Spark-first redesign:
1. bucket edges by ``pmod(xxhash64(src), num_buckets)`` — a bounded,
   data-size-independent key space (vs. the reference's per-vertex keys);
2. fold each bucket's edges into one summary with Arrow-batched
   ``applyInPandas`` (summaries are opaque Python objects, pickled);
3. merge the ≤num_buckets partial summaries. The merge is O(buckets), not
   O(edges): at 1000 executors and 100 TB the driver merges e.g. 1024
   pickled forests, never raw data. For summaries whose merged size is
   itself large, raise ``merge_levels`` to tree-reduce on executors first.

Windowed variant (A7): the same fold, additionally grouped by the tumbling
event-time window; ``transient_state=True`` resets state per window (the
reference ctor flag), else partials accumulate across windows on replay.
"""

from __future__ import annotations

import pickle
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gelly_streaming_spark.operators.graphstream import GraphStream

_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.TimestampType(), True),
        T.StructField("pkey", T.IntegerType(), True),
        T.StructField("summary", T.BinaryType(), True),
    ]
)


@dataclass
class SummaryAggregation:
    """fold_fn(summary, src, dst, val) -> summary   (per-edge update, applied
        vectorized per bucket via fold_pdf when provided)
    combine_fn(s1, s2) -> merged summary
    transform_fn(summary) -> list of output row tuples
    """

    initial: Callable[[], Any]
    fold_pdf: Callable[[Any, pd.DataFrame], Any]  # (summary, edges pdf) -> summary
    combine_fn: Callable[[Any, Any], Any]
    transform_fn: Callable[[Any], list[tuple]]
    out_schema: T.StructType
    num_buckets: int = 64
    window: Optional[str] = None  # e.g. "1 hour" → WindowGraphAggregation (A7)
    transient_state: bool = True
    #: executor-side tree-merge rounds before the driver merge. Each
    #: round shrinks the partial count to its square root (pkey → pkey
    #: mod √width), so with one round over B buckets the driver sees at
    #: most √B merged partials per window — the escape hatch when merged
    #: summaries are large enough that even an O(B) driver funnel hurts.
    merge_levels: int = 0
    #: fold_pdf depends on edge arrival order (e.g. the greedy spanner's
    #: first-offer-wins): the fold input then carries ts and each group
    #: sorts by it before folding. Defaults to True — the SAFE semantics
    #: (an external order-dependent fold must never silently regress to
    #: arbitrary Arrow-batch order; ADVICE r7). Order-FREE summaries
    #: (union-find, degree counts) opt out with False to skip the ts
    #: carry and per-group sort — measured ~20% of q15e's warm time.
    order_sensitive: bool = True

    # ------------------------------------------------------------------
    def _tree_merge(self, partials: DataFrame, keys: list[str]) -> DataFrame:
        """``merge_levels`` rounds of executor-side combine: fold pkey
        into a shrinking keyspace and merge each group with combine_fn.
        One aggregation-shaped shuffle per round, O(width) rows in it."""
        combine = self.combine_fn
        schema = partials.schema
        width = self.num_buckets
        for _ in range(self.merge_levels):
            if width <= 1:
                break
            width = max(1, int(width**0.5))

            def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
                s = None
                for blob in pdf["summary"]:
                    t = pickle.loads(bytes(blob))
                    s = t if s is None else combine(s, t)
                head = pdf.iloc[[0]][[c for c in pdf.columns if c != "summary"]]
                return head.assign(summary=[pickle.dumps(s)])

            partials = (
                partials.withColumn("pkey", F.pmod("pkey", F.lit(width)).cast("int"))
                .groupBy(*keys)
                .applyInPandas(merge_group, schema)
            )
        return partials

    # ------------------------------------------------------------------
    def _merged_by_bucket(self, edges: DataFrame, window: Optional[str]) -> dict:
        """Bucket-fold ``edges`` (distributed) and merge the partials on
        the driver: one merged summary per tumbling ``window`` start, or
        under the single key None when ``window`` is None. The driver
        handles O(num_buckets) pickled summaries per window, never
        edges."""
        cols = [F.col("src"), F.col("dst")]
        cols.append(
            F.col("val") if "val" in edges.columns else F.lit(None).alias("val")
        )
        if self.order_sensitive and "ts" in edges.columns:
            # order-sensitive summaries (spanner's greedy offers) fold in
            # event-time order within each (bucket, pkey) group — without
            # selecting ts here, fold_group's sort was silently a no-op
            # and the fold order was arbitrary Arrow-batch order
            cols.append(F.col("ts"))
        if window is not None:
            bucket = F.window(F.col("ts"), window).start.alias("bucket")
        else:
            bucket = F.lit(None).cast("timestamp").alias("bucket")
        df = edges.select(
            bucket, F.pmod(F.xxhash64("src"), F.lit(self.num_buckets)).alias("pkey"), *cols
        )

        init, fold = self.initial, self.fold_pdf

        def fold_group(pdf: pd.DataFrame) -> pd.DataFrame:
            if "ts" in pdf.columns:
                pdf = pdf.sort_values("ts")
            s = fold(init(), pdf)
            return pd.DataFrame(
                {
                    "bucket": [pdf["bucket"].iloc[0]],
                    "pkey": [int(pdf["pkey"].iloc[0])],
                    "summary": [pickle.dumps(s)],
                }
            )

        partials_df = df.groupBy("bucket", "pkey").applyInPandas(
            fold_group, schema=_PARTIAL_SCHEMA
        )
        partials = self._tree_merge(partials_df, ["bucket", "pkey"]).collect()
        self.last_driver_partials = len(partials)

        by_bucket: dict[Any, Any] = {}
        for row in partials:
            s = pickle.loads(bytes(row["summary"]))
            key = row["bucket"]
            if key in by_bucket:
                by_bucket[key] = self.combine_fn(by_bucket[key], s)
            else:
                by_bucket[key] = s
        return by_bucket

    def fold_bounded(self, edges: DataFrame) -> Any:
        """Distributed bucket-fold of a bounded edge DataFrame into ONE
        merged summary (no windowing; ``initial()`` on empty input) — the
        per-micro-batch primitive the streaming runner uses
        (streaming/summary.py)."""
        return self._merged_by_bucket(edges, None).get(None, self.initial())

    def run(self, stream: GraphStream) -> DataFrame:
        """Batch execution: bucket-fold (distributed) → merge (driver,
        O(num_buckets) pickled summaries) → transform."""
        by_bucket = self._merged_by_bucket(stream.edges, self.window)

        out_rows: list[tuple] = []
        carry = None
        for key in sorted(by_bucket, key=lambda k: (k is not None, k)):
            s = by_bucket[key]
            if not self.transient_state and carry is not None:
                s = self.combine_fn(carry, s)
            carry = s
            for r in self.transform_fn(s):
                out_rows.append((key, *r))

        spark = stream.edges.sparkSession
        full_schema = T.StructType(
            [T.StructField("bucket", T.TimestampType(), True), *self.out_schema.fields]
        )
        return spark.createDataFrame(out_rows, full_schema)
