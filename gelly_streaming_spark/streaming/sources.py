"""Streaming edge sources.

Reference parity: the reference constructs a ``SimpleEdgeStream`` from any
Flink ``DataStream<Edge>`` — socket text, collections, generators
(REF:src/main/java/org/apache/flink/graph/streaming/SimpleEdgeStream.java:~50 [H];
examples read text files / fromElements, REF:.../example/ConnectedComponentsExample.java:~90 [H]).
Spark-first equivalents:

- ``replay`` — re-emit a bounded edge DataFrame as a *streaming* DataFrame
  in deterministic micro-batches (file source + maxFilesPerTrigger). This
  is the parity-test workhorse: every streaming operator is checked by
  replaying a fixture and comparing its final state to the batch answer
  (SURVEY.md §5.2).
- ``rate_edges`` — unbounded synthetic edge stream off Spark's rate
  source, for throughput smoke tests and demos.

Scale notes: a production deployment points ``readStream`` at Kafka or a
cloud-storage drop directory with the same schema; every operator in this
package is source-agnostic — they only see the canonical
``src, dst[, val][, ts]`` columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gelly_streaming_spark.plans.memory import remove_dir, session_memo, session_tmpdir


def replay(
    df: DataFrame,
    stage_dir: str | None = None,
    num_batches: int = 4,
    files_per_trigger: int = 1,
    order_by: str | None = None,
    cache_key: str | None = None,
) -> DataFrame:
    """Turn a bounded edge DataFrame into a streaming one.

    Writes ``df`` to ``stage_dir`` as ``num_batches`` parquet files and
    returns a file-source streaming DataFrame that consumes
    ``files_per_trigger`` files per micro-batch — so a downstream
    available-now query sees ≈``num_batches`` triggers, exercising the
    same incremental code paths a live stream would.

    Default replay assigns rows to micro-batches arbitrarily — fine for
    order-insensitive operators, but watermarked append-mode queries
    would (correctly) drop rows arriving after their window closed. Pass
    ``order_by="ts"`` for an in-order replay: rows are sorted on that
    column before chunking, so the file source (which orders by
    modification time) delivers event time monotonically — the
    reference's ascending-timestamp assumption
    (REF:.../SimpleEdgeStream.java:~65 [M]).

    Staging is DRIVER-side by design: one Arrow collect, then local
    parquet chunk files with explicitly increasing mtimes (``os.utime``)
    — in-order delivery is guaranteed, not probabilistic (sequential
    cluster writes can land within one mtime tick and tie-break
    arbitrarily). This is the parity-test harness, bounded fixtures only;
    production streams point ``readStream`` at Kafka / a drop directory
    and never pass through here.

    ``cache_key`` memoizes the STAGED CHUNKS per SparkContext, shared by
    every session and every ``foreachBatch`` batch on it (the same
    immutable-fixture doctrine as the table restage in load_table): a
    repeated replay of the same bounded source re-collects and re-writes
    identical files, which is harness scaffolding, not engine work — the
    streaming query itself still executes fully every call. Only pass a
    key for sources that are immutable for the SparkContext's lifetime.

    ``stage_dir=None`` creates a fresh temp dir — and only AFTER the memo
    lookup misses, so memo-hit replays allocate nothing on disk. Staged
    dirs live for the SparkContext (that is the point of the memo) and
    are removed by ``plans.memory.release_persisted``.
    """
    import os
    import time

    import pyarrow.parquet as pq

    if cache_key is not None:
        # the staged chunks depend on every replay parameter, not just
        # the caller's key — folding them in here means a second call
        # with the same key but different num_batches/order_by can never
        # silently reuse mismatched chunks (an out-of-order replay fed
        # to a watermarked query would drop rows with no error)
        cache_key = (cache_key, num_batches, files_per_trigger, order_by)
        memo = session_memo(df.sparkSession, "replay_stage", remove_dir)
        staged = memo.get(cache_key)
        if staged is not None:
            return (
                df.sparkSession.readStream.schema(df.schema)
                .option("maxFilesPerTrigger", files_per_trigger)
                .parquet(staged)
            )

    if stage_dir is None:
        stage_dir = session_tmpdir("gss_replay_")
    os.makedirs(stage_dir, exist_ok=True)
    # A reused stage dir must not replay a previous call's chunks: the
    # file source globs every chunk-*.parquet it finds, so stale files
    # would be silently unioned into this replay.
    for stale in os.listdir(stage_dir):
        if stale.startswith("chunk-") and stale.endswith(".parquet"):
            os.remove(os.path.join(stage_dir, stale))
    src = df if order_by is None else df.orderBy(order_by)
    tbl = src.toArrow()
    n = max(1, tbl.num_rows)
    per = -(-n // num_batches)  # ceil
    now = time.time()
    for i in range(num_batches):
        chunk = tbl.slice(i * per, per)
        path = os.path.join(stage_dir, f"chunk-{i:05d}.parquet")
        pq.write_table(chunk, path)
        # strictly increasing, well-separated mtimes per chunk
        os.utime(path, (now + i, now + i))
    if cache_key is not None:
        # register only AFTER staging completed — a mid-staging failure
        # must not leave a poisoned memo entry pointing at partial files
        memo[cache_key] = stage_dir
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(stage_dir)
    )


# The canonical column set every format("kafka") source produces —
# public Structured Streaming Kafka integration contract.
KAFKA_SOURCE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)

_EDGE_JSON_SCHEMA = "src long, dst long, val double, ts timestamp"


def edges_from_kafka(raw: DataFrame, value_format: str = "json") -> DataFrame:
    """Adapt a ``format("kafka")`` (or Kafka-shaped) stream to the engine's
    canonical edge schema.

    ``value`` carries the edge record; ``value_format``:

    - ``"json"`` — ``{"src": .., "dst": .., "val": .., "ts": ..}`` objects
      (malformed records yield NULL src/dst and are dropped, Kafka's
      poison-pill convention);
    - ``"csv"`` — ``src,dst,val,ts`` positional fields.

    Rows missing an event time fall back to the broker append time
    (``timestamp``), so watermarked operators keep working on sources
    that don't embed one. Works identically on batch ``format("kafka")``
    reads — the adapter is just column expressions.

    Malformed-payload contract (ADVICE/VERDICT r13 item 5 — each class
    is pinned by tests/test_streaming.py::test_kafka_payload_contract_*;
    both parsers run Spark's default PERMISSIVE mode, so a bad payload
    can NEVER fail the stream — it either drops or degrades per field):

    ========================  =========================================
    payload class             behavior
    ========================  =========================================
    broken JSON / non-UTF8    whole record NULL → row DROPPED
    JSON wrong field type     that field NULL → dropped iff src/dst
    JSON missing src or dst   row DROPPED (poison-pill convention)
    JSON missing val          kept, ``val`` = 0.0
    JSON missing/bad ts       kept, ``ts`` = broker append time
    JSON extra fields         ignored (schema projection)
    NULL/empty value bytes    row DROPPED
    CSV too few fields        missing fields NULL → same rules as JSON
    CSV non-numeric src/dst   that field NULL → row DROPPED
    CSV extra fields          trailing fields ignored
    ========================  =========================================
    """
    v = F.col("value").cast("string")
    if value_format == "json":
        e = raw.select(
            F.from_json(v, _EDGE_JSON_SCHEMA).alias("e"), F.col("timestamp")
        ).select("e.*", "timestamp")
    elif value_format == "csv":
        e = raw.select(
            F.from_csv(v, _EDGE_JSON_SCHEMA).alias("e"), F.col("timestamp")
        ).select("e.*", "timestamp")
    else:
        raise ValueError(f"unsupported value_format: {value_format!r}")
    return (
        e.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .select(
            "src",
            "dst",
            F.coalesce("val", F.lit(0.0)).alias("val"),
            F.coalesce("ts", F.col("timestamp")).alias("ts"),
        )
    )


def rate_edges(
    spark: SparkSession,
    rows_per_second: int = 10_000,
    num_vertices: int = 1_000,
) -> DataFrame:
    """Unbounded synthetic edge stream: ``src, dst, val, ts``.

    Vertex ids follow a crude power-law-ish skew (square of a uniform
    draw) so hot-key behavior shows up in smoke tests, matching the
    skewed-degree graphs the reference targets.
    """
    r = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second
    ).load()
    n = F.lit(num_vertices)
    # pmod, not abs: abs(Integer.MIN_VALUE) stays negative (two's
    # complement), which once in ~2^32 draws produced a negative dst and
    # src == num_vertices — outside the documented [0, n) contract
    h1 = F.pmod(F.hash(F.col("value")), F.lit(2147483647)) / F.lit(2147483647.0)
    h2 = F.pmod(F.hash(F.col("value") * 31 + 7), F.lit(2147483647)) / F.lit(2147483647.0)
    return r.select(
        (F.pow(h1, F.lit(2.0)) * n).cast("long").alias("src"),
        (h2 * n).cast("long").alias("dst"),
        (F.col("value") % 100).cast("double").alias("val"),
        F.col("timestamp").alias("ts"),
    )


