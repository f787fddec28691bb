"""Label propagation community detection — extension algorithm.

The reference library is CC / bipartiteness / spanner plus triangle
examples (SURVEY §2.9); it ships no community detection. This extension
adds SYNCHRONOUS label propagation (Raghavan et al. 2007, public
method) with a deterministic tie-break, built on the same driver-loop
machinery as the batch CC / PageRank / BFS paths (SURVEY §7.4.H2: Spark
has no in-job iteration, so the fixpoint is a Pregel-style loop with
lineage cut by localCheckpoint).

Semantics (the certified q60 contract): undirected distinct edges with
self-loops dropped; labels initialize to the vertex id; each round
every vertex adopts the label most frequent among its neighbors' labels
from the PREVIOUS round (synchronous update), ties broken by the
SMALLEST label; an isolated vertex keeps its label. Fixed ``iters``
rounds with an early exit the round no label changes (idempotent from
then on, so the exit cannot diverge from the fixed-round oracle). All
arithmetic is integer — no float margins exist for the cross-engine
hash. The deterministic min-label tie-break is what makes the classic
randomized algorithm certifiable; it is also the standard
reproducibility variant.

100 TB shape: per round, ONE (dst, lbl)-keyed partial-agg count shuffle
over the neighbor-label stream (map-side combine compresses repeated
labels before the exchange) and one dst-keyed argmax fold —
``max(struct(cnt, -lbl))`` picks most-frequent-then-smallest WITHOUT a
window sort — then one left join back to the |V|-row label table;
every per-round frame is |V|- or |E|-bounded, the label table
checkpoints per round (plan depth O(1)), and the changed-label count
rides that checkpoint job's Observation — early exit costs zero extra
jobs (the CC convergence trick). Unweighted LPA is the weighted loop
with unit weights over the distinct symmetrized edges (a sum of ones is
the count), so both entry points share one driver kernel and one loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gelly_streaming_spark.operators.graphstream import GraphStream
from gelly_streaming_spark.plans.memory import free_checkpoint
from gelly_streaming_spark.plans.probe import driver_fast_path
from gelly_streaming_spark.plans.shuffle import loop_shuffle_width


def _lpa_labels(edges: list[tuple], iters: int) -> list[tuple]:
    """Driver kernel over the collected symmetrized (src, dst, w) rows.
    Decimal weights arrive as Python ``Decimal``, so score sums and
    comparisons are exact — identical to the distributed decimal path
    and the oracle's DECIMAL arithmetic."""
    # symmetrized input: every vertex appears as a source, so adjacency
    # keys ARE the vertex set
    adj: dict = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((b, w))
    lbl = {v: v for v in adj}
    for _ in range(iters):
        nxt = {}
        changed = False
        for v, neigh in adj.items():
            scores: dict = {}
            for u, w in neigh:
                scores[lbl[u]] = scores.get(lbl[u], 0) + w
            # largest score, ties -> smallest label
            best = min(scores.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            nxt[v] = best
            changed = changed or best != lbl[v]
        lbl = nxt
        if not changed:
            break
    return sorted(lbl.items())


def _propagate(eu: DataFrame, iters: int, small_input_rows: int) -> DataFrame:
    """Synchronous LPA over the symmetrized (src, dst, w) plan ``eu``:
    the driver kernel when ``eu`` fits ``small_input_rows``
    (``plans.probe.driver_fast_path``), else the distributed loop."""
    small = driver_fast_path(
        eu, small_input_rows, ("id", "lbl"), lambda edges: _lpa_labels(edges, iters)
    )
    if small is not None:
        return small

    from pyspark.sql import Observation

    obs_e = Observation()
    eu = eu.observe(obs_e, F.count(F.lit(1)).alias("n")).localCheckpoint()
    labels = (
        eu.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint()
    )
    try:
        with loop_shuffle_width(eu.sparkSession, int(obs_e.get["n"])):
            for _ in range(iters):
                # neighbor labels arrive at dst; (dst, lbl) partial-agg
                # score sum, then the argmax fold: max(struct(score, -lbl))
                # is largest-then-SMALLEST-label without a window sort
                cnt = (
                    eu.join(labels, eu["src"] == labels["id"])
                    .select(F.col("dst").alias("vid"), "lbl", "w")
                    .groupBy("vid", "lbl")
                    .agg(F.sum("w").alias("c"))
                )
                pick = cnt.groupBy("vid").agg(
                    (-F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl")))["nl"])
                    .alias("new_lbl")
                )
                obs = Observation()
                nxt = (
                    labels.join(pick, labels["id"] == pick["vid"], "left")
                    .select(
                        "id",
                        F.coalesce(F.col("new_lbl"), F.col("lbl")).alias("lbl"),
                        (
                            F.coalesce(F.col("new_lbl"), F.col("lbl"))
                            != F.col("lbl")
                        ).alias("_chg"),
                    )
                    .observe(obs, F.count_if(F.col("_chg")).alias("chg"))
                    .select("id", "lbl")
                    .localCheckpoint()
                )
                changed = int(obs.get["chg"])
                # every round checkpoints: the changed-label Observation
                # needs a per-round action anyway; free the superseded
                # checkpoint (the initial one too — ADVICE r13) once its
                # successor landed
                free_checkpoint(labels)
                labels = nxt
                if changed == 0:
                    break  # synchronous LPA is idempotent from here on
    finally:
        free_checkpoint(eu)
    return labels.select("id", "lbl")


def weighted_label_propagation(
    stream: GraphStream,
    iters: int = 3,
    weight_col: str = "val",
    small_input_rows: int = 100_000,
) -> DataFrame:
    """Rows (id, lbl): weighted synchronous LPA — each vertex adopts the
    label with the LARGEST summed incident edge weight among its
    neighbors' previous-round labels, ties broken by the smallest label.

    Weight contract (exact, certifiable): weights go through
    DECIMAL(18,2) and every score is a decimal SUM — aggregation order
    cannot flip a comparison, so the cross-engine hash needs no float
    margins (the q60 integer-exactness property, kept under weighting).
    Parallel edges and both directions of an unordered pair SUM into
    one symmetric weight before the loop (one (src, dst) partial-agg
    shuffle); self-loops are dropped."""
    if iters < 1:
        raise ValueError(
            f"weighted_label_propagation: iters must be >= 1, got {iters}"
        )
    w = F.col(weight_col).cast("decimal(18,2)").alias("w")
    e = stream.edges.select("src", "dst", w).where(F.col("src") != F.col("dst"))
    eu = (
        e.unionByName(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    return _propagate(eu, iters, small_input_rows)


def label_propagation(
    stream: GraphStream,
    iters: int = 3,
    small_input_rows: int = 100_000,
) -> DataFrame:
    """Rows (id, lbl): each vertex's community label after ``iters``
    synchronous label-propagation rounds (min-label tie-break) over the
    undirected distinct edge set, self-loops dropped. Isolated-by-
    filtering vertices cannot occur (vertices are derived from the same
    filtered edge set), but a vertex whose neighbors all carry its own
    label simply keeps it."""
    if iters < 1:
        raise ValueError(f"label_propagation: iters must be >= 1, got {iters}")
    e = (
        stream.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    eu = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    return _propagate(eu.withColumn("w", F.lit(1)), iters, small_input_rows)
