"""Derived edge views over the driver testdata (FIXTURES.md §3).

Each builder returns an edge DataFrame with the engine's canonical schema
``(src LONG, dst LONG, val DOUBLE, ts TIMESTAMP)`` (plus extra columns
where noted). ID namespaces are offset so vertex ids never collide across
entity types (customers < 1e6, orders 1e6+, parts 2e6+).

These are the Spark twins of the DuckDB oracle CTEs in queries.py — keep
both in sync.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gelly_streaming_spark.plans.memory import session_memo, unpersist
from gelly_streaming_spark.sources.tables import load_table

ORDER_OFFSET = 1_000_000
PART_OFFSET = 2_000_000
EVENT_DST_OFFSET = 100_000


def edges_cust_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite customer→order graph (reference-style edge stream)."""
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("src"),
        (F.lit(ORDER_OFFSET) + F.col("o_orderkey")).alias("dst"),
        F.col("o_totalprice").alias("val"),
        F.col("o_orderdate").alias("ts"),
    )


def edges_order_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite order→part graph; keeps the discount as an edge attribute."""
    return load_table(spark, sf_dir, "lineitem").select(
        (F.lit(ORDER_OFFSET) + F.col("l_orderkey")).alias("src"),
        (F.lit(PART_OFFSET) + F.col("l_partkey")).alias("dst"),
        F.col("l_extendedprice").alias("val"),
        F.col("l_discount").alias("disc"),
        F.col("l_shipdate").alias("ts"),
    )


def edges_copart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase part–part projection (triangle-rich).

    Self-join of lineitem on orderkey with ``src < dst`` canonicalization.
    Scale: equi-join on l_orderkey — AQE picks shuffled-hash/broadcast by
    side size; the projection prunes lineitem to 3 columns at the scan.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_shipdate"
    )
    a = li.alias("a")
    b = li.select("l_orderkey", "l_partkey").alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"),
        F.col("b.l_partkey").alias("dst"),
        F.lit(1.0).alias("val"),
        F.col("a.l_shipdate").alias("ts"),
    )


def copart_canonical(
    spark: SparkSession, sf_dir: str, bucket_size: str | None = None
) -> DataFrame:
    """DISTINCT canonical co-purchase edges (``src < dst`` by construction),
    optionally keyed by a tumbling event-time bucket — materialized ONCE per
    (SparkContext, sf_dir, bucket) and shared by every consumer (q07 /
    q11b / q17 / q18 all canonicalize the same projection; rebuilding
    the self-join per query was 22 s of the 49 s round-1 batch bench)
    and by every session and ``foreachBatch`` batch on the context.

    Scale design (the part that survives a 100× scale-up):
    - **dedup BEFORE the self-join.** The raw join is O(k²) per order in
      its duplicate multiplicity; projecting lineitem to the join keys and
      deduping first shrinks both join inputs AND the join output. All
      downstream consumers take a DISTINCT anyway, so the bag multiplicity
      of the raw view is provably irrelevant (every registry consumer
      dedups on (src, dst) or (bucket, src, dst)).
    - the memo holds a ``persist()``-ed frame (columnar, compressed,
      spillable storage blocks — and unlike a localCheckpoint, a plain
      ``unpersist()`` frees it); size is O(distinct co-purchase pairs),
      ~1% of the wedge volume the join would otherwise re-shuffle per
      query. Lifetime is the SparkContext — a deliberate materialized view.
    """
    cache = session_memo(spark, "copart", unpersist)
    # Single base materialization: the DAY-bucketed distinct set.
    # l_shipdate is a DATE, so day granularity is lossless — the flat set
    # and any coarser tumbling bucketing derive from it without touching
    # lineitem again (ONE self-join per session, not one per consumer).
    base_key = ("copart_base", sf_dir)
    if base_key not in cache:
        # Pair generation WITHOUT a self-join: collect each order's
        # distinct parts once (ONE aggregation shuffle), then emit the
        # src<dst pairs with JVM higher-order array functions inside
        # whole-stage codegen. Strictly dominates the join formulation:
        # - one shuffle of |lineitem| rows instead of two join inputs
        #   plus a re-shuffle of the O(k² per order) pair bag (measured
        #   1.8 s vs 2.2 s warm at sf0.1, and the gap widens with k);
        # - duplicate (orderkey, partkey) entries are deduped IN-CORE by
        #   collect_set before the quadratic blowup — no stats probe or
        #   conditional pre-join dedup needed at any duplicate ratio;
        # - skew equivalence: a pathological order lands in one task
        #   either way (the join co-partitions on orderkey too).
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_partkey",
            F.window("l_shipdate", "1 day")["start"].alias("day"),
        )
        g = li.groupBy("l_orderkey").agg(
            F.sort_array(
                F.collect_set(F.struct(F.col("l_partkey").alias("pk"), F.col("day")))
            ).alias("parts"),
            F.sort_array(F.collect_set("l_partkey")).alias("pks"),
        )
        pairs = g.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, x -> transform("
                    "filter(pks, p -> p > x.pk), "
                    "p -> struct(x.day as bucket, x.pk as src, p as dst))))"
                )
            ).alias("e")
        ).select("e.*")
        # lazily persisted: the first consumer's own action populates the
        # cache (an eager count here would scan the output twice)
        cache[base_key] = pairs.distinct().persist()
    base = cache[base_key]

    key = ("copart", sf_dir, bucket_size or "")
    if key not in cache:
        if bucket_size is None:
            out = base.select("src", "dst").distinct()
        elif bucket_size == "1 day":
            return base
        else:
            out = base.select(
                F.window("bucket", bucket_size)["start"].alias("bucket"),
                "src",
                "dst",
            ).distinct()
        cache[key] = out.persist()
    return cache[key]


def edges_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal user-interaction graph from the events stream table."""
    return load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("src"),
        (F.lit(EVENT_DST_OFFSET) + (F.col("event_id") % 50)).alias("dst"),
        F.col("value").alias("val"),
        F.col("ts"),
    )
