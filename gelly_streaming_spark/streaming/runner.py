"""Run streaming queries to completion (test/parity harness).

The reference's ITCases execute a bounded stream through the Flink
mini-cluster and string-compare the sink file
(REF:src/test/java/org/apache/flink/graph/streaming/test/ [M]). The Spark
equivalent: drive the streaming query with an available-now trigger (all
pending data, then stop) and compare the *final state* to the batch
answer — emission granularity is per micro-batch, not per record
(documented semantic delta D1, SURVEY.md §7.4).

``run_to_memory`` deliberately does NOT use Spark's memory sink: that
sink collects every batch's rows into driver memory (a complete-mode
aggregation re-collects the FULL state each micro-batch). Instead each
micro-batch is persisted executor-side via ``foreachBatch`` and the final
state is assembled as a union of persisted frames — the driver never
materializes rows, matching the engine's no-driver-funnel doctrine.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from gelly_streaming_spark.plans.memory import (
    free_checkpoint,
    remove_dir,
    session_tmpdir,
)


def _await(q, timeout_sec: int) -> None:
    try:
        # a False return means the trigger did NOT finish: surfacing a
        # partial sink table would masquerade as a wrong (or luckily
        # right) answer downstream — fail loudly instead.
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"streaming query did not finish within {timeout_sec}s"
            )
    finally:
        q.stop()


# Batches ``run_update_merge`` chains lazily before collapsing its state
# to one checkpoint.
_COLLAPSE_EVERY = 8


def _needs_no_data_batch(sdf: DataFrame, output_mode: str) -> bool:
    """Does this sink's FINAL emission depend on a trailing no-data
    micro-batch advancing the watermark?

    Only append-mode plans whose emission is watermark-gated qualify:
    windowed/stateful aggregations (rows emitted when the watermark
    passes the window end) and state-timer operators. Immediate-emission
    operators (dedup, filters) and complete/update sinks emit everything
    with the last data batch — for those the trailing batch is pure
    fixed cost and is skipped (q28s, sf0.01, ``local[4]``, median of 6
    alternating runs: 0.61 s skipped, 0.76 s at Spark's default).
    """
    if output_mode != "append":
        return False
    try:
        nodes = _plan_node_names(sdf._jdf.queryExecution().analyzed())  # noqa: SLF001
    except Exception:
        return True  # can't inspect — keep Spark's safe default
    # Node class names, never the plan text: a column named `Joined` or
    # `isAggregate` must not read as an operator.
    if "EventTimeWatermark" not in nodes:
        return False
    # Err toward Spark's safe default: any watermarked append plan keeps
    # the trailing batch UNLESS every stateful operator is known to emit
    # immediately (dedup evicts on watermark but emits on arrival).
    # Prefixes: "FlatMapGroups" covers the Scala FlatMapGroupsWithState
    # and the Python FlatMapGroupsInPandasWithState (applyInPandasWithState)
    # nodes, "TransformWithState" its Scala and Python variants; "Join"
    # covers watermark-gated outer stream-stream joins.
    gated = ("Aggregate", "FlatMapGroups", "TransformWithState", "Join")
    return any(n.startswith(gated) for n in nodes)


def _plan_node_names(plan) -> set[str]:
    """Class simple names of every node in a JVM logical plan tree."""
    names, todo = set(), [plan]
    while todo:
        node = todo.pop()
        names.add(node.getClass().getSimpleName())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return names


def run_to_memory(
    sdf: DataFrame,
    output_mode: str = "complete",
    timeout_sec: int = 300,
) -> DataFrame:
    """Execute a streaming DataFrame with an available-now trigger and
    return its final result as a batch DataFrame.

    ``complete`` mode (aggregations): the last micro-batch holds the full
    final state — earlier batches are unpersisted as they are superseded.
    ``append`` mode (row streams: dedup, filters, closed windows): the
    final result is the union of all emitted batches. ``update`` mode is
    NOT supported here: re-emitted keys would leave superseded rows in
    the union — drive update-mode sinks through ``run_update_merge``
    (keyed upsert) or ``run_foreach_batch`` with a caller-side merge.
    """
    if output_mode not in ("complete", "append"):
        raise ValueError(
            "run_to_memory supports only complete/append output modes; "
            f"got {output_mode!r} (update-mode unions keep superseded rows "
            "— use run_update_merge, or run_foreach_batch with a keyed merge)"
        )
    batches: list[DataFrame] = []

    def _capture(bdf: DataFrame, _epoch: int) -> None:
        # localCheckpoint (eager) SEVERS the batch plan's lineage: the
        # incremental-execution plan reads state-store files that vanish
        # when run_foreach_batch removes the query's checkpoint, so a
        # later action must never be able to recompute through it.
        ckpt = bdf.localCheckpoint()
        if output_mode == "complete":
            while batches:
                free_checkpoint(batches.pop())
        batches.append(ckpt)

    run_foreach_batch(sdf, _capture, output_mode, timeout_sec)
    if not batches:
        return sdf.sparkSession.createDataFrame([], sdf.schema)
    out = batches[0]
    for b in batches[1:]:
        out = out.unionByName(b)
    return out


def run_update_merge(
    sdf: DataFrame,
    key_cols: list[str],
    timeout_sec: int = 300,
) -> DataFrame:
    """Execute an UPDATE-mode streaming aggregation with an available-now
    trigger and return the final upserted state.

    Update mode emits only the CHANGED aggregate rows each micro-batch
    (the reference's update-on-every-edge granularity, semantic delta D1
    batched per trigger — SURVEY.md §7.4); the final state is therefore
    the LAST emitted value per key. Each batch is keyed-upserted into the
    running state: ``new ∪ (prev ⟕̸ new)`` — an anti-join keeps only the
    un-updated previous keys, so re-emitted keys never leave superseded
    rows (the failure mode that makes a naive union wrong and is why
    ``run_to_memory`` rejects update mode and points here).

    Scale: state stays a distributed DataFrame keyed by ``key_cols``;
    per batch one anti-join + union composed LAZILY over per-batch
    checkpoints, collapsed (checkpoint + free superseded blocks) every
    ``_COLLAPSE_EVERY`` batches — never a driver materialization, never
    more than O(_COLLAPSE_EVERY) pinned batches.
    """
    state: list[DataFrame] = []
    pinned: list[DataFrame] = []

    def _merge(bdf: DataFrame, _epoch: int) -> None:
        # Each batch is checkpointed ONCE (sever the incremental-exec
        # lineage before the query's checkpoint is removed);
        # the upsert itself stays a LAZY plan over those checkpoints —
        # merging eagerly re-checkpointed every round (one extra job per
        # batch) for state the caller reads only after the last trigger.
        # Every ``_COLLAPSE_EVERY`` batches the chain is collapsed to one
        # checkpoint and the superseded blocks freed, so an unbounded
        # stream pins O(_COLLAPSE_EVERY) batches, not its whole history.
        ckpt = bdf.localCheckpoint()
        pinned.append(ckpt)
        if state:
            prev = state.pop()
            state.append(ckpt.unionByName(prev.join(ckpt, key_cols, "left_anti")))
        else:
            state.append(ckpt)
        if len(pinned) >= _COLLAPSE_EVERY:
            merged = state.pop().localCheckpoint()
            while pinned:
                free_checkpoint(pinned.pop())
            pinned.append(merged)
            state.append(merged)

    run_foreach_batch(sdf, _merge, "update", timeout_sec)
    if not state:
        return sdf.sparkSession.createDataFrame([], sdf.schema)
    return state[0]


def run_foreach_batch(
    sdf: DataFrame,
    fn: Callable[[DataFrame, int], None],
    output_mode: str = "update",
    timeout_sec: int = 300,
) -> None:
    """Execute a streaming DataFrame available-now through ``foreachBatch``.

    The callback sees each micro-batch as a bounded DataFrame — the
    engine's escape hatch for patterns Structured Streaming can't express
    in-plan (iterative refinement, global summary merges; SURVEY.md §7.4.H2).

    The one place the engine starts a streaming query. The no-data-batch
    conf is pinned around ``start()`` (Spark reads it there) and the
    session's value restored. The query checkpoints to its own throwaway
    ``session_tmpdir``, removed when the run ends, failed or not: every
    caller's result is cut off from the query's lineage before it stops
    (a ``localCheckpoint`` per batch or a driver-side value), and no run
    resumes, so nothing durable is lost.
    """
    spark = sdf.sparkSession
    no_data_conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    no_data = _needs_no_data_batch(sdf, output_mode)
    prev = spark.conf.get(no_data_conf, "true")
    ckpt = session_tmpdir("gss_ckpt_")
    try:
        spark.conf.set(no_data_conf, "true" if no_data else "false")
        try:
            q = (
                sdf.writeStream.foreachBatch(fn)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            spark.conf.set(no_data_conf, prev)
        _await(q, timeout_sec)
    finally:
        remove_dir(ckpt)
