"""k-core peeling — extension algorithm (graph curation primitive).

The reference library is CC / bipartiteness / spanner plus triangle
examples (SURVEY §2.9); it ships no coreness computation. The k-core —
the maximal subgraph where every vertex keeps degree ≥ k — is the
standard graph-side curation filter (link-spam farms and orphan pages
peel away; the web-graph analog of the text-side quality filters), and
the peeling loop is the same Pregel-style driver shape as the sibling
algorithms (SURVEY §7.4.H2).

Semantics (the certified q72 contract): undirected DISTINCT edges with
self-loops dropped; ``rounds`` synchronous peel steps, each removing
every vertex whose CURRENT degree is < k (and the edges touching it),
all removals within a step simultaneous; output is each surviving
vertex's degree in the subgraph after the final step. Fixed ``rounds``
with an early exit the step nothing peels (idempotent from then on, so
the exit cannot diverge from the fixed-round oracle — the LPA/PageRank
convention). Full convergence to the true k-core is ``converged=True``
(property-tested; bounded by |V| steps in theory, a handful in
practice).

100 TB shape: per step, ONE (vertex)-keyed partial-agg degree count
(map-side combine), then two semi-joins restricting the edge list to
surviving endpoints — sort-merge joins AQE can split on skew; the edge
list checkpoints per step (plan depth O(1), superseded blocks freed),
and the step's surviving-edge count rides the checkpoint job's
Observation so the early exit costs zero extra jobs. All arithmetic is
integer — no float margins exist for the cross-engine hash. Snapshots
whose symmetrized edge list fits ``small_input_rows`` peel
driver-locally instead (``plans.probe.driver_fast_path`` — measured
r15: the distributed loop's per-round floor is ~0.1 s job
submit + ~0.2 s compute+checkpoint at loop_parts=1, so 3 rounds on a
20k-edge snapshot pay ~1.6 s of fixed floors the driver peel avoids).
"""

from __future__ import annotations

import collections

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField

from gelly_streaming_spark.operators.graphstream import GraphStream
from gelly_streaming_spark.plans.memory import free_checkpoint
from gelly_streaming_spark.plans.probe import driver_fast_path
from gelly_streaming_spark.plans.shuffle import loop_shuffle_width


def _kcore_peel(
    edges: list[tuple], k: int, rounds: int, converged: bool
) -> list[tuple]:
    """Driver kernel of ``k_core``: the same synchronous peel over the
    collected symmetrized adjacency."""
    step = 0
    while edges:
        step += 1
        deg = collections.Counter(u for u, _v in edges)
        keep = {v for v, d in deg.items() if d >= k}
        nxt = [(u, v) for u, v in edges if u in keep and v in keep]
        if len(nxt) == len(edges):
            break  # fixpoint — remaining steps are no-ops
        edges = nxt
        if not converged and step >= rounds:
            break
    return sorted(collections.Counter(u for u, _v in edges).items())


def k_core(
    stream: GraphStream,
    k: int = 2,
    rounds: int = 3,
    converged: bool = False,
    small_input_rows: int = 100_000,
) -> DataFrame:
    """Rows (id, degree): surviving vertices and their degrees after
    ``rounds`` synchronous k-core peel steps (``converged=True`` peels
    to the true k-core fixpoint instead). Inputs whose symmetrized
    distinct edge list fits ``small_input_rows`` peel driver-locally
    (``plans.probe.driver_fast_path``)."""
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"k_core: rounds must be >= 1, got {rounds}")
    from pyspark.sql import Observation

    e = (
        stream.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    eu_plan = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    small = driver_fast_path(
        eu_plan,
        small_input_rows,
        ("id", StructField("degree", LongType(), False)),
        lambda edges: _kcore_peel(edges, k, rounds, converged),
    )
    if small is not None:
        return small
    obs0 = Observation()
    # eu_plan symmetrizes THEN distincts (the label_propagation
    # convention): an input holding both (a,b) and (b,a) otherwise
    # contributes the pair twice in each direction and double-counts
    # both endpoints' degrees against the documented undirected-DISTINCT
    # contract
    eu = eu_plan.observe(obs0, F.count(F.lit(1)).alias("m")).localCheckpoint()
    m_prev = int(obs0.get["m"])
    step = 0
    with loop_shuffle_width(stream.edges.sparkSession, m_prev):
        while m_prev > 0:
            step += 1
            deg = eu.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
            keep = deg.where(F.col("degree") >= k).select("src")
            obs = Observation()
            nxt = (
                eu.join(keep, "src", "left_semi")
                .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
                .observe(obs, F.count(F.lit(1)).alias("m"))
                .localCheckpoint()
            )
            m = int(obs.get["m"])
            free_checkpoint(eu)
            eu = nxt
            if m == m_prev or m == 0:
                break  # fixpoint (or empty) — remaining steps are no-ops
            m_prev = m
            if not converged and step >= rounds:
                break
    return eu.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
