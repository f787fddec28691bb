"""Bipartiteness check (odd-cycle detection).

Reference parity: library/BipartitenessCheck.java + summaries/Candidates.java
(REF:src/main/java/org/apache/flink/graph/streaming/library/BipartitenessCheck.java:~30 [H];
REF:.../summaries/Candidates.java:~40-160 [H]; util/SignedVertex.java [M]).
The reference maintains per-component 2-colorings and fails a component
when an edge joins same-signed vertices.

Spark-native formulations:

- ``odd_vertex_reach`` — exact parity-reachability fixpoint matching the
  DuckDB recursive oracle (Q16): a vertex is "odd" iff it reaches itself
  over an odd-length walk ⇔ its component contains an odd cycle. Output
  per graph: (is_bipartite, odd_vertices). Intended for bounded fixture
  graphs (state is O(n²) pairs).

- ``bipartiteness_check`` — the scalable path: components via min-label
  propagation with parity carried along; a component is non-bipartite iff
  some edge closes equal parities. O(diameter) joins, state O(V).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField

from gelly_streaming_spark.operators.graphstream import GraphStream
from gelly_streaming_spark.plans.memory import free_checkpoint
from gelly_streaming_spark.plans.probe import driver_fast_path


def _symmetrize(edges: DataFrame) -> DataFrame:
    e = edges.select("graph", "src", "dst").distinct()
    return e.unionByName(
        e.select("graph", F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _odd_vertex_counts(rows: list[tuple]) -> list[tuple]:
    """Driver kernel of ``odd_vertex_reach``: 2-coloring over collected
    (graph, src, dst) rows — symmetrization and dedup happen as dict
    inserts (spending cluster jobs on them bought nothing), then one BFS
    per component: odd vertex ⇔ lies in a non-bipartite component."""
    import collections as _c

    adj: dict = _c.defaultdict(lambda: _c.defaultdict(set))
    for g, a, b in rows:
        adj[g][a].add(b)
        adj[g][b].add(a)
    out = []
    for g in sorted(adj):
        nbrs = adj[g]
        odd_vertices = 0
        color: dict = {}
        for v in sorted(nbrs):
            if v in color:
                continue
            comp, ok = [v], True
            color[v] = 0
            q = _c.deque([v])
            while q:
                u = q.popleft()
                for w in nbrs[u]:
                    if w not in color:
                        color[w] = 1 - color[u]
                        comp.append(w)
                        q.append(w)
                    elif color[w] == color[u]:
                        ok = False
            if not ok:
                odd_vertices += len(comp)
        out.append((g, odd_vertices == 0, odd_vertices))
    return out


def odd_vertex_reach(
    tagged_edges: DataFrame, max_iter: int = 64, small_input_rows: int = 100_000
) -> DataFrame:
    """``tagged_edges``: (graph, src, dst). Returns one row per graph:
    (graph, is_bipartite, odd_vertices).

    Under ``small_input_rows`` raw edges the parity closure runs
    driver-local (``plans.probe.driver_fast_path``) instead of the
    distributed pair fixpoint, whose O(n²) pair state is pure job
    overhead at fixture sizes."""
    small = driver_fast_path(
        tagged_edges.select("graph", "src", "dst"),
        small_input_rows,
        (
            "graph",
            StructField("is_bipartite", BooleanType(), False),
            StructField("odd_vertices", LongType(), False),
        ),
        _odd_vertex_counts,
        ids=tagged_edges.select("graph"),
    )
    if small is not None:
        return small
    eu = _symmetrize(tagged_edges).localCheckpoint()

    def _checkpoint_counted(df: DataFrame) -> tuple[DataFrame, int]:
        # the walk only grows (union + distinct), so an unchanged row
        # count is the fixpoint; it is observed on the checkpoint job
        obs = Observation()
        ckpt = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
        return ckpt, obs.get["n"]

    walk, prev = _checkpoint_counted(
        eu.select("graph", F.col("src").alias("root"))
        .distinct()
        .select("graph", "root", F.col("root").alias("id"), F.lit(0).alias("parity"))
    )
    ckpt = walk  # the live checkpoint backing `walk`
    converged = False
    for _ in range(max_iter):
        # two expansion steps per convergence check (each check is a
        # driver action; batching halves loop latency)
        for _ in range(2):
            nxt = (
                walk.join(eu, (walk.graph == eu.graph) & (walk.id == eu.src))
                .select(
                    walk.graph, "root", F.col("dst").alias("id"),
                    (F.lit(1) - F.col("parity")).alias("parity"),
                )
            )
            walk = walk.unionByName(nxt).distinct()
        walk, cur = _checkpoint_counted(walk)
        # free the superseded checkpoint (leaked blocks = storage-memory
        # pressure on every later query; an OOM at 100 TB)
        free_checkpoint(ckpt)
        ckpt = walk
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # a truncated parity closure can MISS odd vertices — reporting
        # is_bipartite=true from it would be a silent false negative
        free_checkpoint(eu)
        free_checkpoint(walk)
        raise RuntimeError(
            f"parity closure still growing after max_iter={max_iter} "
            "double-steps — raise max_iter or use bipartiteness_check "
            "(O(V) state) for long-diameter graphs"
        )

    free_checkpoint(eu)  # the output plan reads only the final walk checkpoint
    odd = (
        walk.where((F.col("root") == F.col("id")) & (F.col("parity") == 1))
        .select("graph", "root")
        .distinct()
    )
    graphs = tagged_edges.select("graph").distinct()
    return (
        graphs.join(odd, "graph", "left")
        .groupBy("graph")
        .agg(F.count("root").alias("odd_vertices"))
        .select(
            "graph",
            (F.col("odd_vertices") == 0).alias("is_bipartite"),
            "odd_vertices",
        )
    )


def bipartiteness_check(
    stream: GraphStream, max_iter: int = 100, return_labels: bool = False
):
    """Scalable check: rows (component, is_bipartite, conflict_edges).
    With ``return_labels`` also returns the (id, comp, parity) coloring —
    the certificate the streaming incremental check carries as state.

    Propagates (component, parity) labels: each vertex adopts the min
    reachable id with the parity of the adopting path. On convergence an
    edge whose endpoints share component and parity certifies an odd
    cycle. Same shuffle profile as connected_components (join + min-agg
    per round)."""
    e = (
        stream.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    eu = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()

    # state: (id, comp, parity) — parity of some shortest adoption path.
    # Convergence via an OBSERVED (count, sum comp, sum parity) signature
    # fused into each round's checkpoint job — the same move as
    # connected_components. (comp, parity) is lexicographically monotone
    # non-increasing per vertex under min(struct): any comp change
    # strictly decreases sum(comp); a round of parity-only changes keeps
    # sum(comp) and strictly decreases sum(parity) — so signature
    # equality ⟺ fixpoint. Replaces the old changed-rows join +
    # limit(1).count(), which cost one extra driver-synchronized job per
    # round on top of the checkpoint job that runs anyway.
    def _sig_cols():
        return (
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("sc"),
            F.sum(F.col("parity").cast("decimal(38,0)")).alias("sp"),
        )

    obs0 = Observation()
    labels = (
        eu.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"), F.lit(0).alias("parity"))
        .observe(obs0, *_sig_cols())
        .localCheckpoint()
    )
    m0 = obs0.get
    prev_sig = (m0["n"], m0["sc"], m0["sp"])
    converged = False
    for _ in range(max_iter):
        msgs = eu.join(labels, eu.src == labels.id).select(
            F.col("dst").alias("id"),
            F.col("comp"),
            (F.lit(1) - F.col("parity")).alias("parity"),
        )
        obs = Observation()
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(
                F.min(F.struct("comp", "parity")).alias("s")
            )
            .select("id", F.col("s.comp").alias("comp"), F.col("s.parity").alias("parity"))
            .observe(obs, *_sig_cols())
            .localCheckpoint()
        )
        m = obs.get
        sig = (m["n"], m["sc"], m["sp"])
        free_checkpoint(labels)
        labels = new_labels
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # truncated propagation = wrong components AND possibly missed
        # odd cycles — never return it silently
        free_checkpoint(eu)
        free_checkpoint(labels)
        raise RuntimeError(
            f"(comp, parity) propagation did not converge within "
            f"max_iter={max_iter} rounds (needs O(diameter)) — raise max_iter"
        )

    lab = labels.select("id", "comp", "parity")
    conflicts = (
        e.join(lab.withColumnsRenamed({"id": "src", "comp": "c1", "parity": "p1"}), "src")
        .join(lab.withColumnsRenamed({"id": "dst", "comp": "c2", "parity": "p2"}), "dst")
        .where((F.col("c1") == F.col("c2")) & (F.col("p1") == F.col("p2")))
        .groupBy(F.col("c1").alias("component"))
        .agg(F.count(F.lit(1)).alias("conflict_edges"))
    )
    free_checkpoint(eu)  # conflicts/labels read only e and the final checkpoint
    comps = lab.select(F.col("comp").alias("component")).distinct()
    verdict = comps.join(conflicts, "component", "left").select(
        "component",
        F.col("conflict_edges").isNull().alias("is_bipartite"),
        F.coalesce("conflict_edges", F.lit(0)).alias("conflict_edges"),
    )
    if return_labels:
        return lab, verdict
    return verdict
