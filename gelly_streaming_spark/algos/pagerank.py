"""PageRank — extension algorithm (beyond the reference library).

The reference's algorithm library is CC / bipartiteness / spanner plus
triangle examples (SURVEY §2.9); it ships no PageRank. This extension
rounds out the graph surface with the canonical damped power iteration,
built on the same driver-loop machinery as the batch CC path (SURVEY
§7.4.H2: Spark has no streaming/in-job iteration, so the fixpoint is a
Pregel-style loop with lineage cut by localCheckpoint).

Semantics (the certified q56 contract): directed DISTINCT edges (a
multigraph's parallel edges collapse — unweighted PageRank), uniform
init 1/n, fixed iteration count, per-step
``r'(v) = (1-d)/n + d * SUM_{(u,v) in E} r(u)/outdeg(u)``.
Dangling vertices (no out-edges) contribute nothing — the simplified
convention, replicated verbatim in the DuckDB oracle; ranks therefore
sum to < 1 on graphs with dangling mass, which is fine for the
relative-ordering uses PageRank serves in curation (domain authority
scoring over a link graph).

100 TB shape: the whole distributed branch runs inside the loop's
shuffle-width scope (``plans.shuffle``), sized from the edge plan's size
estimate before the first job and re-sized from the observed edge count.
The loop-invariant (src, dst, outdeg) edge table is materialized ONCE,
in one job: the distinct edges, the out-degree as a window count over
the src partition, and the edge count as an observation of the same
checkpoint. The vertex table is a second checkpoint, built from that
one, with the vertex count (and, when personalized, the number of
sources) observed on it; the driver runs no count job. Each iteration is
one src-keyed join against the |V|-row rank table, one dst-keyed
partial/final sum, and one left join back to the vertex set — three
keyed shuffles over monotonically |V|-bounded data, with the rank table
checkpointed every ``_CHECKPOINT_EVERY`` rounds and after the last, so
the plan depth stays O(1) however many iterations run. A forced
3-iteration run on the q56d graph (sf0.1, ``local[4]``) is 7 jobs,
the caller's collect included: the two invariant checkpoints, the
final rank checkpoint, the broadcasts of three small in-loop tables and
the collect. Built outside the width scope and counted by separate
``count()`` jobs, the same run took 14.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField

from gelly_streaming_spark.operators.graphstream import GraphStream
from gelly_streaming_spark.plans.memory import free_checkpoint
from gelly_streaming_spark.plans.probe import driver_fast_path
from gelly_streaming_spark.plans.shuffle import loop_width_from_plan

# Lineage-cut cadence of the distributed loop: each uncheckpointed round
# deepens the plan by two joins and one aggregate, which Catalyst absorbs
# comfortably for a handful of rounds, while every localCheckpoint is an
# eager materialization job. At 4 a 3-iteration run pays ZERO mid-loop
# materializations (the r12 bench decomposition: per-round checkpoints
# made job-floor overhead ~60% of q56's cold cost at local[32]); a
# 100-round run still cuts every 4th round so plan depth stays bounded.
_CHECKPOINT_EVERY = 4


def _round_pr_exact(fr) -> float:
    """The output contract ``ROUND(ROUND(r, 9), 6)`` evaluated on the
    EXACT rational rank: HALF_UP quantize at 9dp then 6dp (Spark's
    ROUND on doubles is BigDecimal(shortest-repr).setScale(HALF_UP);
    a ≤9-significant-digit decimal survives the double round-trip
    verbatim, so quantizing the exact value twice is the same function
    wherever the 9dp decision margin exceeds the double path's drift —
    measured ≥4.5e-11 raw vs ≤~1e-13 drift, q56/q68 docstrings)."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    with localcontext() as ctx:
        ctx.prec = 50  # |error| ≤ ~1e-50 relative — far inside the margins
        x = Decimal(fr.numerator) / Decimal(fr.denominator)
    return float(
        x.quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
        .quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
    )


def _pagerank_exact(
    edges: list[tuple],
    sources: list | None,
    iters: int,
    damping: float,
) -> list[tuple]:
    """Driver kernel of ``pagerank``: power iteration in EXACT rational
    arithmetic (``fractions.Fraction``): damping enters as the exact
    binary value of the double literal the distributed plan uses,
    teleport and 1/n are exact rationals, so the iterated rank is the
    true real number the JVM doubles approximate to ~1e-13. The output
    rounding (9dp→6dp HALF_UP, ``_round_pr_exact``) therefore lands on
    the same 6dp value as both the distributed plan and the DuckDB
    unrolled replica wherever the measured 9dp margins (≥4.5e-11 raw)
    hold — bit-safe by construction, no float-summation-order hazard at
    all. The r15 loop-tax decomposition (q72/q73) measured ~80% of a
    3-round distributed loop on a ~1k-vertex snapshot as fixed
    job/checkpoint floors; the driver loop removes every one of them."""
    import collections
    from fractions import Fraction

    if not edges:
        return []  # the distributed loop's empty-graph answer
    verts = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(verts)
    tele: dict | None = None
    if sources is not None:
        vset = set(verts)
        srcs = {x for x in sources if x in vset}
        if not srcs:
            raise ValueError(
                "pagerank: sources is empty (or disjoint from the graph) "
                "— personalized teleport mass is undefined"
            )
        t_on = Fraction(1, len(srcs))
        tele = {v: (t_on if v in srcs else Fraction(0)) for v in verts}
    d = Fraction(damping)  # exact binary value of the plan's double literal
    outdeg = collections.Counter(u for u, _ in edges)
    if tele is None:
        base = (Fraction(1) - d) / n
        r = dict.fromkeys(verts, Fraction(1, n))
    else:
        one_minus_d = Fraction(1) - d
        r = dict(tele)
    for _ in range(iters):
        contrib = {u: r[u] / outdeg[u] for u in outdeg}
        sums = collections.defaultdict(Fraction)
        for u, v in edges:
            sums[v] += contrib[u]
        if tele is None:
            r = {v: base + d * sums[v] for v in verts}
        else:
            r = {v: one_minus_d * tele[v] + d * sums[v] for v in verts}
    return [(v, _round_pr_exact(r[v])) for v in verts]


def pagerank(
    stream: GraphStream,
    iters: int = 3,
    damping: float = 0.85,
    sources: DataFrame | None = None,
    small_input_rows: int = 100_000,
    stats: dict | None = None,
) -> DataFrame:
    """Rows (id, pr) — damped PageRank after ``iters`` power-iteration
    steps over the distinct directed edge set, pr rounded to 6dp (the
    certified cross-engine contract; margins measured in the q56
    docstring).

    The rank table is checkpointed every ``_CHECKPOINT_EVERY`` rounds
    and after the last — the returned plan must not reference the
    loop-invariant checkpoints the ``finally`` releases.

    ``sources`` (r14, VERDICT r13 item 7): PERSONALIZED PageRank — the
    teleport mass concentrates uniformly on the given source vertex set
    (first column, intersected with the graph's vertices) instead of
    all vertices: init r0 = tele, per step
    ``r'(v) = (1-d)·tele(v) + d·Σ r(u)/outdeg(u)`` with ``tele(v) =
    1/|S|`` on sources, 0 elsewhere — the random-walk-with-restart
    similarity underlying seed-based curation (find pages 'near' a
    trusted seed set). One extra |V|-row teleport column carried on the
    checkpointed vertex table; the loop shape is unchanged. With
    ``sources=None`` the original uniform path (and its certified q56
    plan) runs verbatim.

    Graphs whose distinct edge list fits ``small_input_rows`` run the
    driver-local exact-rational kernel (``plans.probe.driver_fast_path``;
    bit-safe rounding by construction)."""
    if iters < 1:
        raise ValueError(f"pagerank: iters must be >= 1, got {iters}")
    e_plan = stream.edges.select("src", "dst").distinct()
    small = driver_fast_path(
        e_plan,
        small_input_rows,
        ("id", StructField("pr", DoubleType(), True)),
        lambda edges, srcs=None: _pagerank_exact(edges, srcs, iters, damping),
        sources=sources,
    )
    # ``stats``, if given, receives {"fast_path": bool} — the q56d
    # distributed-path certification asserts on it (the q15d convention:
    # the cert query must FAIL LOUDLY if a future change lets the fast
    # path swallow small_input_rows=0).
    if stats is not None:
        stats["fast_path"] = small is not None
    if small is not None:
        return small
    eo = None
    verts = None
    try:
        with loop_width_from_plan(e_plan, aqe_off_when_tiny=True) as resize:
            # loop-invariant (src, dst, outdeg) table and its edge count:
            # one job — the out-degree is a window over the src partition
            # the distinct's output is shuffled into
            obs_e = Observation()
            eo = (
                e_plan.withColumn(
                    "deg",
                    F.count(F.lit(1)).over(Window.partitionBy("src")).cast("double"),
                )
                .observe(obs_e, F.count(F.lit(1)).alias("m"))
                .localCheckpoint()
            )
            ids = (
                eo.select(F.col("src").alias("id"))
                .unionByName(eo.select(F.col("dst").alias("id")))
                .distinct()
            )
            sig = [F.count(F.lit(1)).alias("n")]
            if sources is not None:
                # the source flag rides the vertex checkpoint, and |S ∩ V|
                # is observed on the same job
                s = sources.select(F.col(sources.columns[0]).alias("id")).distinct()
                ids = ids.join(s.withColumn("_s", F.lit(True)), "id", "left")
                sig.append(F.count_if(F.col("_s")).alias("ns"))
            obs_v = Observation()
            verts = ids.observe(obs_v, *sig).localCheckpoint()
            counts = obs_v.get
            n = counts["n"]
            if n == 0:
                # Empty edge stream: 1/n and (1-d)/n are undefined. Return
                # the empty (id, pr) frame, typed as the non-empty answer,
                # instead of an opaque ZeroDivisionError (ADVICE r12); the
                # plan reads no checkpoint the finally below frees.
                return verts.select(
                    F.col("id"), F.lit(None).cast("double").alias("pr")
                ).where(F.lit(False))
            resize(obs_e.get["m"])
            if sources is None:
                vt = verts
                ranks = verts.withColumn("r", F.lit(1.0 / n))
            else:
                ns = counts["ns"]
                if ns == 0:
                    raise ValueError(
                        "pagerank: sources is empty (or disjoint from the graph) "
                        "— personalized teleport mass is undefined"
                    )
                # the per-round left join below reads vt either way, so the
                # personalized loop costs no extra shuffle
                vt = verts.select(
                    "id",
                    F.when(F.col("_s"), F.lit(1.0 / ns))
                    .otherwise(F.lit(0.0))
                    .alias("tele"),
                )
                ranks = vt.select("id", F.col("tele").alias("r"))
            base = (1.0 - damping) / n
            prev_ckpt = None  # the superseded rank checkpoint, freed after its successor lands
            for i in range(iters):
                contribs = eo.join(ranks, eo["src"] == ranks["id"]).select(
                    F.col("dst").alias("id"), (F.col("r") / F.col("deg")).alias("c")
                )
                sums = contribs.groupBy("id").agg(F.sum("c").alias("s"))
                propagated = F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                new = vt.join(sums, "id", "left").select(
                    "id",
                    (
                        (
                            F.lit(base)
                            if sources is None
                            else F.lit(1.0 - damping) * F.col("tele")
                        )
                        + propagated
                    ).alias("r"),
                )
                if (i + 1) % _CHECKPOINT_EVERY == 0 or i == iters - 1:
                    new = new.localCheckpoint()
                    if prev_ckpt is not None:
                        # the fresh checkpoint no longer reads the old one
                        free_checkpoint(prev_ckpt)
                    prev_ckpt = new
                ranks = new
    finally:
        # The returned plan reads only the final ranks checkpoint. Inside
        # finally (ADVICE r14): an exception mid-loop otherwise leaks the
        # loop-invariant checkpoints until GC.
        for ckpt in (eo, verts):
            if ckpt is not None:
                free_checkpoint(ckpt)
    # Double-round (9dp then 6dp), matched verbatim in the oracles: a
    # concentrated teleport produces near-dyadic ranks landing EXACTLY
    # on 6dp boundaries (0.0053125 at q68/sf0.001), where a ~1-ulp
    # cross-engine drift flips the digit. Both engines' 9dp margins are
    # ≥4.5e-11 raw (measured, q68 docstring), so ROUND(r, 9) yields
    # bit-identical doubles and the 6dp decision — including the exact
    # .5 halves, which both engines round HALF-UP on identical inputs —
    # can no longer diverge. For the uniform path this is a no-op: the
    # q56 margin (4.4e-9 raw) exceeds the ≤0.5e-9 9dp perturbation.
    return ranks.select(
        "id", F.round(F.round("r", 9), 6).alias("pr")
    )
