"""Connected components.

Reference parity: library/ConnectedComponents.java + summaries/DisjointSet.java
(REF:src/main/java/org/apache/flink/graph/streaming/library/ConnectedComponents.java:~30 [H];
REF:.../summaries/DisjointSet.java:~40 [H]) — a windowed union-find summary
aggregation — and example/IterativeConnectedComponents.java (streaming
min-label iteration, REF:.../example/IterativeConnectedComponents.java [M]).

Two Spark-native implementations:

1. ``connected_components`` — distributed min-label propagation to
   fixpoint (Pregel-style driver loop). Each round is one shuffle-join +
   one partial/final min-agg; lineage is cut with localCheckpoint so the
   plan doesn't grow with iterations. Converges in O(diameter) rounds —
   the right trade for the short-diameter graphs this engine targets.
   For 100 TB adversarial (long-path) graphs, switch to
   ``connected_components_alternating`` (O(log n) rounds).

2. ``connected_components_summary`` — the reference's exact
   SummaryAggregation shape: per-bucket union-find folds merged globally
   (O(num_buckets) forest merge on the driver, never raw edges — fixes
   the reference's parallelism-1 timeWindowAll funnel, SURVEY.md §7.4.H1).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gelly_streaming_spark.operators.aggregation import SummaryAggregation
from gelly_streaming_spark.operators.graphstream import GraphStream
from gelly_streaming_spark.plans.memory import free_checkpoint
from gelly_streaming_spark.plans.probe import driver_fast_path
from gelly_streaming_spark.plans.shuffle import _estimated_bytes, loop_width_from_plan

# Measured edge count above which the alternating-CC star operations
# switch to their skew-safe (partial-agg + AQE-splittable join) form.
_SKEW_SAFE_EDGES = 50_000_000

# Min-label rounds run between convergence checks — each check is a
# driver action, so batching rounds roughly halves wall-clock on
# short-diameter graphs at the cost of ≤1 wasted round after the fixpoint.
_CHECK_EVERY = 2


def _union_find_labels(edges: list[tuple]) -> list[tuple]:
    """Driver kernel of both CC entry points: union-find needs no
    symmetrization (union(a, b) is direction-free), so the canonical
    edge set is folded as collected."""
    ds = DisjointSet()
    for a, b in edges:
        ds.union(a, b)
    return sorted((x, ds.find(x)) for x in ds.parent)


def connected_components(
    stream: GraphStream,
    max_iter: int = 100,
    small_input_rows: int = 100_000,
) -> DataFrame:
    """Per-vertex minimum-reachable-id labels: rows (id, component).

    A graph of at most ``small_input_rows`` canonical edges is solved by
    a driver-local union-find (``plans.probe.driver_fast_path``).

    ``_CHECK_EVERY`` label-propagation rounds run between convergence
    checks. Raises if ``max_iter`` rounds pass without
    the fixpoint (a partially-propagated labeling is WRONG components,
    never returned silently — min-label needs O(diameter) rounds, so a
    long-path graph should use ``connected_components_alternating``)."""
    e = (
        stream.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    small = driver_fast_path(
        e, small_input_rows, ("id", "component"), _union_find_labels
    )
    if small is not None:
        return small
    with loop_width_from_plan(e, aqe_off_when_tiny=True) as resize:
        # Symmetrize once; reuse across every iteration. Its row count,
        # observed on the checkpoint job, re-sizes the loop's width.
        obs_e = Observation()
        eu = (
            e.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .observe(obs_e, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        resize(obs_e.get["n"])
        # Convergence via an OBSERVED (count, exact label sum) signature
        # on each block's checkpoint job: per-vertex labels are
        # monotonically non-increasing under min-label steps, so the sum
        # is unchanged across a block iff NO label changed — the same
        # fixpoint test as the old changed-rows join, but as a side
        # aggregation of the job that runs anyway instead of a separate
        # join + count job per block. decimal(38,0) keeps the sum exact
        # at any vertex count (a double would risk false convergence).
        _SIG = lambda: (  # noqa: E731
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"),
        )
        obs0 = Observation()
        labels = (
            eu.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("comp", F.col("id"))
            .observe(obs0, *_SIG())
            .localCheckpoint()
        )
        m0 = obs0.get
        prev_sig = (m0["n"], m0["s"])

        def step(lab: DataFrame) -> DataFrame:
            msgs = eu.join(lab, eu.src == lab.id).select(
                F.col("dst").alias("id"), F.col("comp")
            )
            return (
                lab.unionByName(msgs).groupBy("id").agg(F.min("comp").alias("comp"))
            )

        rounds = 0
        converged = False
        while rounds < max_iter:
            new_labels = labels
            for _ in range(min(_CHECK_EVERY, max_iter - rounds)):
                new_labels = step(new_labels)
                rounds += 1
            obs = Observation()
            new_labels = new_labels.observe(obs, *_SIG()).localCheckpoint()
            m = obs.get
            sig = (m["n"], m["s"])
            # free the superseded checkpoint — a leaked block per round is
            # storage-memory pressure now and an OOM at 100 TB
            free_checkpoint(labels)
            labels = new_labels
            if sig == prev_sig:
                converged = True
                break
            prev_sig = sig
    if not converged:
        free_checkpoint(eu)
        free_checkpoint(labels)
        raise RuntimeError(
            f"min-label CC did not converge within max_iter={max_iter} rounds "
            "(needs O(diameter)) — raise max_iter or use "
            "connected_components_alternating (O(log n) rounds)"
        )
    free_checkpoint(eu)  # returned plan reads only the final labels checkpoint
    return labels.select("id", F.col("comp").alias("component"))


def connected_components_alternating(
    stream: GraphStream,
    max_iter: int = 50,
    stats: dict | None = None,
    small_input_rows: int = 100_000,
    skew_safe: bool | None = None,
) -> DataFrame:
    """CC via alternating large-star / small-star contractions — the
    O(log n)-round map-reduce formulation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014; public algorithm).

    Why it exists next to min-label: min-label propagation converges in
    O(diameter) rounds — fatal on a 100 TB path-shaped graph (millions of
    shuffle rounds); the star operations halve tree heights every other
    round regardless of diameter, so a path contracts in O(log n) rounds.
    Each round is two aggregation-shaped shuffles (a per-vertex min + an
    edge rewrite join); no driver materialization, lineage cut per round.

    - large-star: every node connects its LARGER neighbors to the minimum
      of its closed neighborhood;
    - small-star: every node connects its smaller-or-equal neighbors (and
      itself) to that minimum.

    At fixpoint the edge set is a forest of stars (child → component
    minimum). ``stats``, if given, receives ``{"rounds": N}`` — the
    convergence-rate property tests read it — and ``{"skew_safe": bool}``.

    Inputs of at most ``small_input_rows`` canonical edges run the same
    driver-local union-find as ``connected_components``.

    ``skew_safe`` picks the neighborhood-min formulation:

    - ``False`` — window aggregate over ``partitionBy(src)``: ONE
      shuffle per star op, but every row of a vertex's neighborhood
      lands in one window task, and AQE cannot split a window
      partition. Right for bounded/certification inputs.
    - ``True`` — partial-aggregated ``groupBy(src).min`` joined back to
      the rows: two shuffles per star op, but the min survives any
      degree skew via map-side combine, and the row-attach join is a
      sort-merge join AQE's skew handling CAN split. Star contraction
      concentrates edges onto component roots — at 100 TB a giant
      component's root is exactly the hub this formulation exists for.
    - ``None`` (default) — auto: windows while the measured edge count
      is bounded (≤ ``_SKEW_SAFE_EDGES``), the skew-safe form beyond;
      re-decided per round from the checkpoint observation's count, so
      a contracting graph can legitimately switch mid-run.
    """
    e = (
        stream.edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    small = driver_fast_path(
        e, small_input_rows, ("id", "component"), _union_find_labels
    )
    if small is not None:
        if stats is not None:
            stats["rounds"] = 0
        return small

    # Every helper references its CHECKPOINTED input exactly once on the
    # window path: symmetrization is an explode (not a union of two
    # scans), and the neighborhood minimum is a window aggregate over
    # the same shuffle. Catalyst does no common-subexpression sharing
    # across subtrees, so a naive join formulation once compiled each
    # round to ~24 duplicated scan subtrees of the checkpoint; the
    # skew-safe path below re-introduces the join deliberately but over
    # the cheap checkpoint scan (2 scans/op, not 24), trading one extra
    # shuffle per star op for skew immunity (see the docstring).
    def _sym(edges: DataFrame) -> DataFrame:
        return edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("s"), F.col("dst").alias("d")),
                    F.struct(F.col("dst").alias("s"), F.col("src").alias("d")),
                )
            ).alias("x")
        ).select(F.col("x.s").alias("src"), F.col("x.d").alias("dst"))

    _w = Window.partitionBy("src")
    skew = {"safe": bool(skew_safe)}

    def _with_nbr_min(rows: DataFrame) -> DataFrame:
        # attach min(dst) over each src group as `_mn`
        if skew["safe"]:
            mins = rows.groupBy("src").agg(F.min("dst").alias("_mn"))
            return rows.join(mins, "src")
        return rows.withColumn("_mn", F.min("dst").over(_w))

    def _large_star(edges: DataFrame) -> DataFrame:
        # min over the CLOSED neighborhood; no output dedup — duplicates
        # are bounded by |sym| and collapse in small-star's distinct
        return (
            _with_nbr_min(_sym(edges))
            .withColumn("mn", F.least(F.col("_mn"), F.col("src")))
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .where(F.col("src") != F.col("dst"))
        )

    def _small_star(edges: DataFrame) -> DataFrame:
        # every node of a ≤-neighborhood (dst and src both) links to its
        # minimum: emit both endpoints via explode, dedup once
        le = _sym(edges).where(F.col("dst") <= F.col("src"))
        return (
            _with_nbr_min(le)
            .select(
                F.explode(F.array(F.col("dst"), F.col("src"))).alias("src"),
                F.col("_mn").alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    rounds = 0
    converged = False
    # The first width comes from the plan estimate, before any job runs;
    # once round 1's observation returns the MEASURED contracted edge
    # count, the loop re-sizes from that at 250k edges per partition.
    if skew_safe is None:
        # auto: ~16 bytes/canonical edge — flip to the skew-safe star
        # ops when the estimate clears the threshold; re-decided per
        # round below once measured counts exist
        skew["safe"] = _estimated_bytes(e) > _SKEW_SAFE_EDGES * 16
    with loop_width_from_plan(e, aqe_off_when_tiny=True) as resize:
        # The input is not persisted: only round 1 reads it, and that
        # round's plan scans it once on both star-op forms (the
        # skew-safe self joins reuse the distinct's exchange).
        e0 = e
        # No up-front checksum job: round 1 both reads the input and
        # records the first (count, set-hash) signature via its
        # observe(), so convergence tracking starts one round in.
        # The only input that loses a round to this is one that is
        # ALREADY a star forest (detected after 2 rounds instead of 1);
        # every other input saves a whole driver-synchronized job.
        prev_sum = None
        # ONE job per contraction round: the round's eager
        # localCheckpoint both cuts lineage (mandatory — each star
        # operator references its input 3-4×, so two un-cut rounds
        # compile to hundreds of duplicated subtrees; measured 36 s vs
        # 7 s on the q15d graph) and, via observe(), computes the
        # convergence checksum as a side aggregation of the same
        # materialization — no separate checksum job, and convergence
        # is now detected every round instead of every other. The
        # per-round test (set unchanged by large∘small) is exactly the
        # round-function fixpoint the block-wise comparison tested, and
        # a fixpoint of the round function is a star forest.
        while rounds < max_iter:
            obs = Observation()
            new_e = (
                _small_star(_large_star(e))
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(
                        F.bit_xor(
                            F.xxhash64(
                                F.least("src", "dst"), F.greatest("src", "dst")
                            )
                        ),
                        F.lit(0),
                    ).alias("h"),
                )
                .localCheckpoint()
            )
            rounds += 1
            m = obs.get  # populated by the checkpoint job's listener
            cur_sum = (m["n"], m["h"])
            if e is not e0:
                free_checkpoint(e)
            e = new_e
            if cur_sum == prev_sum:
                converged = True
                break
            if prev_sum is None:
                # first measured edge count, from a free side-observation
                resize(cur_sum[0], 250_000)
            if skew_safe is None:
                # a contracting graph legitimately shrinks back under the
                # threshold — fall back to the cheaper window form then
                skew["safe"] = cur_sum[0] > _SKEW_SAFE_EDGES
            prev_sum = cur_sum
        if stats is not None:
            stats["rounds"] = rounds
            stats["skew_safe"] = skew["safe"]
        if not converged:
            # a partially-contracted forest is WRONG components, not a
            # slower answer — never return it silently
            if e is not e0:
                free_checkpoint(e)
            raise RuntimeError(
                f"alternating CC did not reach the checksum fixpoint within "
                f"max_iter={max_iter} rounds (O(log n) expected — raise max_iter)"
            )

        # Labels come straight from the CONTRACTED set — never from a
        # re-scan of e0. At the checksum fixpoint the set is a star
        # forest over exactly e0's vertex set (each round's small-star
        # re-emits both endpoints of every ≤-edge, so no vertex is ever
        # dropped): every non-root vertex appears EXACTLY ONCE as a src
        # with its component minimum as dst — small-star's per-src
        # window emits one (src, mn) row per group and a src with two
        # distinct parents could not be a round-function fixpoint (the
        # next min-window would rewrite it) — and every root appears
        # only as a dst. So children rows ARE label rows as-is (no
        # groupBy — the min-agg it replaced was the star-forest
        # identity, one whole shuffle spent re-deriving a property the
        # checksum fixpoint already guarantees; the oracle hash-parity
        # and the min-label cross-check property test would both catch
        # a duplicate-src violation); roots self-label via one distinct.
        labels = e.select(F.col("src").alias("id"), F.col("dst").alias("component")).unionByName(
            e.select(F.col("dst").alias("id"), F.col("dst").alias("component")).distinct()
        )
        out = labels.localCheckpoint()
    free_checkpoint(e)
    return out


# ---------------------------------------------------------------------------
# Union-find summary variant (reference SummaryAggregation shape)
# ---------------------------------------------------------------------------
class DisjointSet:
    """Mergeable union-find forest with path-halving finds and
    union-by-MIN-ID (NOT union-by-size: the min id must be the root so
    component labels are deterministic — the invariant the fast path,
    the summary variant, and the oracle hash parity all depend on;
    path-halving alone keeps finds amortized O(log n)). Role of
    REF:.../summaries/DisjointSet.java [H]; fresh dict-based
    implementation."""

    __slots__ = ("parent",)

    def __init__(self):
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        p = self.parent.setdefault(x, x)
        while p != self.parent[p]:
            self.parent[p] = self.parent[self.parent[p]]
            p = self.parent[p]
        self.parent[x] = p
        return p

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return
        if ra > rb:  # min-id root ⇒ deterministic component labels
            ra, rb = rb, ra
        self.parent[rb] = ra

    def merge(self, other: "DisjointSet") -> "DisjointSet":
        for x, p in other.parent.items():
            self.union(x, p)
        return self


def cc_summary_aggregation(
    window: str | None = None,
    num_buckets: int = 64,
    merge_levels: int = 0,
) -> SummaryAggregation:
    """The CC summary aggregation itself (union-find fold / forest-merge
    combine / label transform) — shared by the batch A6/A7 runner below
    and the A8 streaming bulk runner
    (streaming.summary.StreamingSummaryAggregation, q15f)."""

    def fold(s: DisjointSet, pdf: pd.DataFrame) -> DisjointSet:
        for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
            s.union(a, b)
        return s

    def transform(s: DisjointSet) -> list[tuple]:
        return sorted((x, s.find(x)) for x in s.parent)

    return SummaryAggregation(
        initial=DisjointSet,
        fold_pdf=fold,
        combine_fn=lambda a, b: a.merge(b),
        transform_fn=transform,
        out_schema=T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("component", T.LongType()),
            ]
        ),
        num_buckets=num_buckets,
        window=window,
        transient_state=False,
        merge_levels=merge_levels,
        # union-find is order-free: skip the ts carry + per-group sort
        order_sensitive=False,
    )


def connected_components_summary(
    stream: GraphStream,
    window: str | None = None,
    num_buckets: int = 64,
    merge_levels: int = 0,
) -> DataFrame:
    """CC via the reference's partial-fold + merge pattern (A6/A7).

    With ``window`` set this is WindowGraphAggregation: one component
    mapping emitted per tumbling window, state carried across windows
    (transientState=false, as the reference CC uses). ``merge_levels``
    tree-reduces partial forests on executors before the driver merge."""
    return stream.aggregate(
        cc_summary_aggregation(window, num_buckets, merge_levels)
    )
