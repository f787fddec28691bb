"""Algorithm tests: golden results on fixtures G1–G4, property tests P1
(spanner stretch) and P2 (triangle-estimate tolerance) on G5/copart."""

import collections

import pyspark.sql.functions as F
import pytest

from gelly_streaming_spark import GraphStream
from gelly_streaming_spark.algos.bipartiteness import bipartiteness_check
from gelly_streaming_spark.algos.connected_components import (
    connected_components,
    connected_components_summary,
)
from gelly_streaming_spark.algos.spanner import spanner
from gelly_streaming_spark.algos.triangles import (
    triangle_count,
    triangle_count_estimate,
    triangle_count_windowed,
)
from gelly_streaming_spark.sources.edges import edges_copart
from gelly_streaming_spark.sources.fixtures import fixture_graph, g5_powerlaw


def test_cc_g4(spark):
    gs = GraphStream(fixture_graph(spark, "g4"))
    got = {r.id: r.component
           for r in connected_components(gs, small_input_rows=0).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_cc_summary_matches_labelprop(spark):
    gs = GraphStream(fixture_graph(spark, "g4"))
    lp = {(r.id, r.component) for r in connected_components(gs).collect()}
    su = {(r.id, r.component) for r in connected_components_summary(gs, num_buckets=4).collect()}
    assert lp == su


def test_summary_tree_merge_bounds_driver_partials(spark):
    """With 256 buckets and one tree-merge level, the driver must merge
    at most sqrt(256)=16 partial forests — and the result must equal the
    flat O(buckets) merge (VERDICT r1 'What's missing' #2)."""
    import pandas as pd
    from pyspark.sql import types as T

    from gelly_streaming_spark.algos.connected_components import DisjointSet
    from gelly_streaming_spark.operators.aggregation import SummaryAggregation

    def fold(s, pdf: pd.DataFrame):
        for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
            s.union(a, b)
        return s

    def mk(levels):
        return SummaryAggregation(
            initial=DisjointSet,
            fold_pdf=fold,
            combine_fn=lambda a, b: a.merge(b),
            transform_fn=lambda s: sorted((x, s.find(x)) for x in s.parent),
            out_schema=T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("component", T.LongType()),
                ]
            ),
            num_buckets=256,
            merge_levels=levels,
            order_sensitive=False,
        )

    gs = GraphStream(g5_powerlaw(spark, n_vertices=300, n_edges=900))
    flat_agg, tree_agg = mk(0), mk(1)
    flat = {(r.id, r.component) for r in flat_agg.run(gs).collect()}
    tree = {(r.id, r.component) for r in tree_agg.run(gs).collect()}
    assert flat == tree
    assert tree_agg.last_driver_partials <= 16
    assert flat_agg.last_driver_partials > 16


def test_cc_alternating_matches_and_converges_fast(spark):
    """Alternating star CC must equal min-label CC on a skewed graph AND
    contract a long path in far fewer rounds than min-label needs —
    the O(log n)-vs-O(diameter) claim, measured, not asserted."""
    from gelly_streaming_spark.algos.connected_components import (
        connected_components_alternating,
    )

    g5 = GraphStream(g5_powerlaw(spark, n_vertices=300, n_edges=900))
    want = {(r.id, r.component) for r in connected_components(g5).collect()}
    stats: dict = {}
    got = {
        (r.id, r.component)
        for r in connected_components_alternating(
            g5, stats=stats, small_input_rows=0
        ).collect()
    }
    assert got == want
    assert 0 < stats["rounds"] <= 10

    # 2000-vertex path: diameter 1999. min-label would need ~1000 joins
    # (we don't run it); alternating must finish in O(log n) rounds.
    n = 2000
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    stats = {}
    labels = connected_components_alternating(
        GraphStream(path), stats=stats, small_input_rows=0
    )
    comps = {r.component for r in labels.collect()}
    assert comps == {0}
    assert stats["rounds"] <= 15, f"path took {stats['rounds']} rounds"


def test_cc_alternating_skew_safe_form_matches(spark):
    """The skew-safe star ops (partial-agg min + AQE-splittable join —
    the 100 TB hub-degree path) must produce the same labels and the
    same O(log n) convergence as the window form, on both a power-law
    graph and a long path."""
    from gelly_streaming_spark.algos.connected_components import (
        connected_components_alternating,
    )

    g5 = GraphStream(g5_powerlaw(spark, n_vertices=300, n_edges=900))
    want = {
        (r.id, r.component)
        for r in connected_components_alternating(
            g5, small_input_rows=0, skew_safe=False
        ).collect()
    }
    stats: dict = {}
    got = {
        (r.id, r.component)
        for r in connected_components_alternating(
            g5, stats=stats, small_input_rows=0, skew_safe=True
        ).collect()
    }
    assert got == want
    assert stats["skew_safe"] is True
    assert 0 < stats["rounds"] <= 10

    n = 1000
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    stats = {}
    labels = connected_components_alternating(
        GraphStream(path), stats=stats, small_input_rows=0, skew_safe=True
    )
    assert {r.component for r in labels.collect()} == {0}
    assert stats["rounds"] <= 15, f"path took {stats['rounds']} rounds"


def test_cc_summary_windowed(spark):
    gs = GraphStream(fixture_graph(spark, "g1"))
    out = connected_components_summary(gs, window="2 minutes", num_buckets=2).collect()
    # state persists across windows (transient_state=False): last window = full graph
    buckets = sorted({r.bucket for r in out})
    final = {r.id: r.component for r in out if r.bucket == buckets[-1]}
    assert set(final.values()) == {1}


def test_bipartiteness_scalable(spark):
    g2 = bipartiteness_check(GraphStream(fixture_graph(spark, "g2"))).collect()
    assert [r.is_bipartite for r in g2] == [True]
    g3 = bipartiteness_check(GraphStream(fixture_graph(spark, "g3"))).collect()
    assert [r.is_bipartite for r in g3] == [False]
    g1 = bipartiteness_check(GraphStream(fixture_graph(spark, "g1"))).collect()
    assert [r.is_bipartite for r in g1] == [False]  # triangles = odd cycles


def test_triangles_g1(spark):
    gs = GraphStream(fixture_graph(spark, "g1"))
    # {1,2,3}, {3,4,5}, and {1,3,5} (via edges 1-3, 3-5, 5-1)
    assert triangle_count(gs).collect()[0].n_triangles == 3


def _bfs_dist(adj, a, b, cap=64):
    if a == b:
        return 0
    seen = {a}
    frontier = [a]
    d = 0
    while frontier and d < cap:
        d += 1
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v == b:
                    return d
                if v not in seen:
                    seen.add(v)
                    nxt.append(v)
        frontier = nxt
    return None


@pytest.mark.parametrize("k", [2, 3])
def test_spanner_stretch_property_p1(spark, k):
    g = g5_powerlaw(spark, n_vertices=500, n_edges=2000)
    gs = GraphStream(g)
    kept = [(r.src, r.dst) for r in spanner(gs, k=k, num_buckets=4).collect()]
    span_adj = collections.defaultdict(set)
    for u, v in kept:
        span_adj[u].add(v)
        span_adj[v].add(u)
    # P1: every ORIGINAL edge (u,v) must satisfy dist_spanner(u,v) <= k.
    orig = {(min(r.src, r.dst), max(r.src, r.dst)) for r in g.collect()}
    for u, v in list(orig)[:500]:
        d = _bfs_dist(span_adj, u, v, cap=k)
        assert d is not None and d <= k, f"stretch violated for edge ({u},{v})"


def test_triangle_estimate_p2(spark, sf_dir):
    gs = GraphStream(edges_copart(spark, sf_dir))
    exact = triangle_count(gs).collect()[0].n_triangles
    est = triangle_count_estimate(gs, sample_fraction=0.2, seed=42).collect()[0].est_triangles
    assert abs(est - exact) / exact < 0.30, f"estimate {est} vs exact {exact}"


def test_odd_vertex_reach_paths_agree(spark):
    """The distributed parity fixpoint and the small-input driver closure
    must produce identical (graph, is_bipartite, odd_vertices) rows."""
    import pyspark.sql.functions as F

    from gelly_streaming_spark.algos.bipartiteness import odd_vertex_reach

    tagged = None
    for g in ("g2", "g3", "g4"):
        part = fixture_graph(spark, g).select(
            F.lit(g).alias("graph"), "src", "dst"
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    fast = sorted(tuple(r) for r in odd_vertex_reach(tagged).collect())
    dist = sorted(tuple(r) for r in odd_vertex_reach(tagged, small_input_rows=0).collect())
    assert fast == dist


def _spy(monkeypatch, module, name):
    """Replace ``module.name`` with a wrapper that records each call."""
    calls = []
    fn = getattr(module, name)

    def wrapper(*args, **kwargs):
        calls.append(1)
        return fn(*args, **kwargs)

    monkeypatch.setattr(module, name, wrapper)
    return calls


def test_windowed_triangle_strategies_agree(spark, monkeypatch):
    """The per-window in-task kernel (G1's one window is under
    ``_PER_WINDOW_LIMIT``) and the distributed join plan (forced by a
    zero limit) must count identically (G1 in one window: 3 triangles)."""
    from gelly_streaming_spark.algos import triangles

    gs = GraphStream(fixture_graph(spark, "g1"))
    joins = _spy(monkeypatch, triangles, "_oriented_triangles")
    for limit in (triangles._PER_WINDOW_LIMIT, 0):
        monkeypatch.setattr(triangles, "_PER_WINDOW_LIMIT", limit)
        rows = triangle_count_windowed(gs, "1 day").collect()
        assert [(r.n_triangles) for r in rows] == [3], limit
        assert len(joins) == (limit == 0), limit


def test_global_triangle_strategies_agree(spark, sf_dir, monkeypatch):
    """The broadcast-sliced numpy kernel (the copart edge count is under
    ``_BROADCAST_LIMIT``) and the degree-ordered join plan (forced by a
    zero limit) must agree on the GLOBAL count (copart graph, multiple
    kernel slices summed across tasks). Neither call declares the view
    materialized, so neither reads a memoized plan decision."""
    from gelly_streaming_spark.algos import triangles
    from gelly_streaming_spark.sources.edges import copart_canonical

    gs = GraphStream(copart_canonical(spark, sf_dir))
    joins = _spy(monkeypatch, triangles, "_oriented_triangles")
    counts = {}
    for limit in (triangles._BROADCAST_LIMIT, 0):
        monkeypatch.setattr(triangles, "_BROADCAST_LIMIT", limit)
        counts[limit] = triangle_count(gs, canonical=True).collect()[0].n_triangles
        assert len(joins) == (limit == 0), limit
    assert len(set(counts.values())) == 1, counts
    assert counts[0] > 0


# ---------------------------------------------------------------------------
# PageRank (q56 extension)
# ---------------------------------------------------------------------------


def test_pagerank_hand_fixture(spark):
    """3 vertices, dangling vertex 3, d=0.85, every step verifiable by
    hand; parallel edges collapse to distinct before iteration."""
    from gelly_streaming_spark.algos.pagerank import pagerank

    rows = [(1, 2), (1, 3), (2, 3), (1, 2)]  # 1->2 duplicated on purpose
    gs = GraphStream(spark.createDataFrame(rows, "src long, dst long"))
    out = {r.id: r.pr for r in pagerank(gs, iters=2).collect()}
    # p1: r1=0.05; r2=0.05+0.85*(1/6)=0.191667; r3=0.05+0.85*(1/6+1/3)=0.475
    # p2: r1=0.05; r2=0.05+0.85*(p1(1)/2)=0.07125
    #     r3=0.05+0.85*(p1(1)/2 + p1(2))=0.234167
    assert out == {1: 0.05, 2: 0.07125, 3: 0.234167}


def test_pagerank_cycle_is_stationary(spark):
    """A directed cycle's uniform distribution is the exact fixpoint:
    every iteration count returns 1/3 — pins both the normalization
    (base + damping * 1/n sums back to 1/n) and determinism."""
    from gelly_streaming_spark.algos.pagerank import pagerank

    gs = GraphStream(
        spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    )
    for iters in (1, 3):
        out = {r.id: r.pr for r in pagerank(gs, iters=iters).collect()}
        assert out == {1: 0.333333, 2: 0.333333, 3: 0.333333}


def test_personalized_pagerank_hand_fixture(spark):
    """Teleport concentrated on source {1} over 1->2, 2->3 (3 dangling):
    r0 = (1,0,0); p1: r1=0.15·1=0.15, r2=0.85·1=0.85, r3=0;
    p2: r1=0.15, r2=0.85·0.15=0.1275, r3=0.85·0.85=0.7225 — every step
    hand-verifiable. A non-source vertex gets teleport 0, so its rank
    is pure propagated mass; sources disjoint from the graph raise."""
    import pytest as _pytest

    from gelly_streaming_spark.algos.pagerank import pagerank

    gs = GraphStream(
        spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    )
    src = spark.createDataFrame([(1,)], "id long")
    out = {r.id: r.pr for r in pagerank(gs, iters=2, sources=src).collect()}
    assert out == {1: 0.15, 2: 0.1275, 3: 0.7225}
    # sources outside the vertex set -> undefined teleport -> raise
    ghost = spark.createDataFrame([(99,)], "id long")
    with _pytest.raises(ValueError, match="sources is empty"):
        pagerank(gs, iters=1, sources=ghost)
    # uniform path is untouched by the sources plumbing
    uni = {r.id: r.pr for r in pagerank(gs, iters=1).collect()}
    assert uni == {1: 0.05, 2: 0.333333, 3: 0.333333}


def test_pagerank_both_paths_agree(spark):
    """r16 fast path (exact-rational driver loop) vs forced-distributed
    loop must return IDENTICAL (id, pr) rows — uniform and personalized,
    including a dangling-mass graph and a teleport-boundary-prone
    concentrated source set (the q15d both-paths convention)."""
    from gelly_streaming_spark.algos.pagerank import pagerank

    rows = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (5, 1), (2, 1)]
    gs = GraphStream(spark.createDataFrame(rows, "src long, dst long"))
    src = spark.createDataFrame([(1,), (5,)], "id long")
    for kwargs in ({}, {"sources": src}):
        fast = sorted(
            (r.id, r.pr) for r in pagerank(gs, iters=3, **kwargs).collect()
        )
        dist = sorted(
            (r.id, r.pr)
            for r in pagerank(
                gs, iters=3, small_input_rows=0, **kwargs
            ).collect()
        )
        assert fast == dist, (kwargs, fast, dist)


def test_pagerank_fast_path_schema_follows_input(spark):
    """VERDICT r16 #3: the fast path must return the SAME schema as the
    distributed loop for non-long vertex ids — the id field type is
    derived from the edge plan, not hard-coded long."""
    from gelly_streaming_spark.algos.pagerank import pagerank

    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")]
    gs = GraphStream(spark.createDataFrame(rows, "src string, dst string"))
    fast_df = pagerank(gs, iters=2)
    dist_df = pagerank(gs, iters=2, small_input_rows=0)
    assert fast_df.schema == dist_df.schema, (fast_df.schema, dist_df.schema)
    fast = sorted((r.id, r.pr) for r in fast_df.collect())
    dist = sorted((r.id, r.pr) for r in dist_df.collect())
    assert fast == dist and fast[0][0] == "a"


def test_weighted_lpa_weight_beats_count(spark):
    """Weighted LPA must disagree with unweighted exactly where weight
    says so: star 2-1-3 plus heavy edge (1,4,w=10) — v1's neighbor
    labels {2,3,4} each appear once (count ties -> min 2 unweighted),
    but weight 10 on label 4 wins weighted. Parallel edges SUM: two
    (5,6) edges at w=1.5 each act as w=3.0. Both driver and distributed
    paths must agree (q15d convention)."""
    from gelly_streaming_spark.algos.lpa import weighted_label_propagation

    rows = [
        (2, 1, 1.0), (3, 1, 1.0), (1, 4, 10.0),
        (5, 6, 1.5), (5, 6, 1.5),
    ]
    gs = GraphStream(
        spark.createDataFrame(rows, "src long, dst long, val double")
    )
    for small in (100_000, 0):
        out = {
            r.id: r.lbl
            for r in weighted_label_propagation(
                gs, 1, small_input_rows=small
            ).collect()
        }
        # v1 -> 4 (weight 10 beats the count-2 tie at labels 2,3);
        # v4 -> 1; v2/v3 -> 1 (only neighbor); v5 <-> v6 swap labels
        assert out == {1: 4, 2: 1, 3: 1, 4: 1, 5: 6, 6: 5}, (small, out)
    # exact-decimal tie: two labels at identical summed weight ->
    # smallest label wins, deterministically on both paths
    tie = GraphStream(
        spark.createDataFrame(
            [(7, 5, 2.0), (8, 5, 2.0)], "src long, dst long, val double"
        )
    )
    for small in (100_000, 0):
        out = {
            r.id: r.lbl
            for r in weighted_label_propagation(
                tie, 1, small_input_rows=small
            ).collect()
        }
        assert out[5] == 7, (small, out)


def test_hits_hand_fixture(spark):
    """2 unnormalized HITS rounds on 1->3, 2->3, 3->4 — every sum
    hand-checkable: a1 = indegree (1,1 have 0; 3 has 2; 4 has 1);
    h1(1)=h1(2)=a1(3)=2, h1(3)=a1(4)=1, h1(4)=0;
    a2(3)=h1(1)+h1(2)=4, a2(4)=h1(3)=1, a2(1)=a2(2)=0;
    h2(1)=h2(2)=a2(3)=4, h2(3)=a2(4)=1, h2(4)=0.
    Self-loops drop; parallel edges collapse."""
    from gelly_streaming_spark.algos.hits import hits

    gs = GraphStream(
        spark.createDataFrame(
            [(1, 3), (2, 3), (3, 4), (1, 3), (4, 4)], "src long, dst long"
        )
    )
    for small in (100_000, 0):  # driver fast path AND distributed loop
        out = {
            r.id: (r.hub, r.auth)
            for r in hits(gs, iters=2, small_input_rows=small).collect()
        }
        assert out == {1: (4, 0), 2: (4, 0), 3: (1, 4), 4: (0, 1)}, (small, out)


def test_k_core_hand_fixture_and_convergence(spark):
    """2-core peeling on a triangle with two pendant tails
    (1-2-3 triangle, 3-4, 4-5): step 1 removes 5 (deg 1), step 2
    removes 4 (its degree FELL to 1 — the iterative part), leaving the
    triangle; synchronous semantics remove simultaneously per step.
    converged=True must reach the same fixpoint with rounds ignored;
    a graph below k everywhere peels to empty."""
    from gelly_streaming_spark.algos.kcore import k_core

    gs = GraphStream(
        spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
        )
    )
    one = {r.id: r.degree for r in k_core(gs, k=2, rounds=1).collect()}
    assert one == {1: 2, 2: 2, 3: 3, 4: 1}, one  # only 5 gone; 4's deg fell
    two = {r.id: r.degree for r in k_core(gs, k=2, rounds=2).collect()}
    assert two == {1: 2, 2: 2, 3: 2}, two
    conv = {r.id: r.degree for r in k_core(gs, k=2, rounds=1, converged=True).collect()}
    assert conv == two
    # the distributed loop (fast path disabled — the q15d convention)
    # returns identical rows on every variant above
    for kw, want in (
        (dict(rounds=1), one),
        (dict(rounds=2), two),
        (dict(rounds=1, converged=True), two),
    ):
        dist = {
            r.id: r.degree
            for r in k_core(gs, k=2, small_input_rows=0, **kw).collect()
        }
        assert dist == want, (kw, dist)
    # everything below k: peels to empty (and the loop terminates)
    path = GraphStream(spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long"))
    assert k_core(path, k=2, rounds=5).count() == 0
    # ADVICE r14 regression: an input holding BOTH (a,b) and (b,a) is
    # ONE undirected edge — before the post-symmetrize distinct, the
    # pair double-counted both endpoints' degrees ({1: 2, 2: 2} at k=2
    # instead of peeling both vertices)
    recip = GraphStream(
        spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    )
    for sir in (100_000, 0):  # fast path AND distributed loop
        assert k_core(recip, k=2, rounds=3, small_input_rows=sir).count() == 0
        assert {
            r.id: r.degree
            for r in k_core(recip, k=1, rounds=1, small_input_rows=sir).collect()
        } == {1: 1, 2: 1}


def test_bfs_khop_hand_fixture(spark):
    """Path 1-2-3-4-5 plus isolated 9: distances, the max_hops cap, and
    the unreached-vertex omission all verifiable by hand."""
    from gelly_streaming_spark.algos.bfs import bfs_distances

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (9, 9)]  # 9's self-loop drops
    gs = GraphStream(spark.createDataFrame(edges, "src long, dst long"))
    src = spark.createDataFrame([(1,)], "id long")
    # BOTH execution paths must agree: the driver-local fast path
    # (default) and the distributed frontier loop (forced)
    for small in (100_000, 0):
        out = {r.id: r.dist
               for r in bfs_distances(gs, src, 2, small_input_rows=small).collect()}
        assert out == {1: 0, 2: 1, 3: 2}, small  # 4,5 beyond horizon; 9 unreached
        full = {r.id: r.dist
                for r in bfs_distances(gs, src, 10, small_input_rows=small).collect()}
        assert full == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}, small  # early exit at hop 4


def test_bfs_khop_directions(spark):
    """out follows edges, in follows reversals, all symmetrizes."""
    from gelly_streaming_spark.algos.bfs import bfs_distances

    gs = GraphStream(spark.createDataFrame([(1, 2), (3, 2)], "src long, dst long"))
    src = spark.createDataFrame([(1,)], "id long")
    assert {r.id: r.dist for r in bfs_distances(gs, src, 3, "out").collect()} == {1: 0, 2: 1}
    assert {r.id: r.dist for r in bfs_distances(gs, src, 3, "in").collect()} == {1: 0}
    assert {r.id: r.dist for r in bfs_distances(gs, src, 3, "all").collect()} == {
        1: 0, 2: 1, 3: 2}


def test_lpa_hand_fixture_and_oscillation(spark):
    """Synchronous LPA with min-label tie-break on a 3-path: round 1
    gives (1->2, 2->1, 3->2) — v2's neighbors {1,3} tie at count 1 and
    the SMALLEST label wins; round 2 swaps back (the classic sync-LPA
    oscillation on near-bipartite graphs) — both rounds hand-checked,
    and both driver-local and distributed paths must agree."""
    from gelly_streaming_spark.algos.lpa import label_propagation
    from gelly_streaming_spark.operators.graphstream import GraphStream

    gs = GraphStream(
        spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    )
    for small in (100_000, 0):
        r1 = {r.id: r.lbl for r in label_propagation(gs, 1, small_input_rows=small).collect()}
        assert r1 == {1: 2, 2: 1, 3: 2}, (small, r1)
        r2 = {r.id: r.lbl for r in label_propagation(gs, 2, small_input_rows=small).collect()}
        assert r2 == {1: 1, 2: 2, 3: 1}, (small, r2)


def test_lpa_triangle_converges_and_early_exit(spark):
    """A triangle collapses to community {1}: round 1 = (2,1,1) (v1's
    neighbors {2,3} tie -> min 2), round 2 = all 1, then no label
    changes — iters=10 must early-exit to the same answer on both
    paths. Self-loops drop; a vertex appearing only in self-loops
    emits no row (vertices derive from the filtered edge set)."""
    from gelly_streaming_spark.algos.lpa import label_propagation
    from gelly_streaming_spark.operators.graphstream import GraphStream

    tri = GraphStream(
        spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    )
    for small in (100_000, 0):
        out = {r.id: r.lbl for r in label_propagation(tri, 10, small_input_rows=small).collect()}
        assert out == {1: 1, 2: 1, 3: 1}, (small, out)
    loops = GraphStream(
        spark.createDataFrame([(7, 7), (2, 3)], "src long, dst long")
    )
    out = {r.id: r.lbl for r in label_propagation(loops, 2).collect()}
    assert set(out) == {2, 3}


# ---------------------------------------------------------------------------
# The shared driver fast path (plans.probe.driver_fast_path)
# ---------------------------------------------------------------------------

# a triangle (odd cycle, 2-core), a tail hanging off it, a reverse edge,
# a parallel edge and a self-loop, plus a separate path component
_PARITY_EDGES = [
    (1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0), (2, 1, 0.5), (3, 4, 3.0),
    (4, 5, 1.0), (4, 5, 1.0), (6, 7, 1.0), (7, 8, 2.0), (8, 8, 1.0),
]


def _parity_entry_points():
    from gelly_streaming_spark.algos.bfs import bfs_distances
    from gelly_streaming_spark.algos.bipartiteness import odd_vertex_reach
    from gelly_streaming_spark.algos.connected_components import (
        connected_components_alternating,
    )
    from gelly_streaming_spark.algos.hits import hits
    from gelly_streaming_spark.algos.kcore import k_core
    from gelly_streaming_spark.algos.lpa import (
        label_propagation,
        weighted_label_propagation,
    )
    from gelly_streaming_spark.algos.pagerank import pagerank

    def odd(gs, src, **kw):
        tagged = gs.edges.select(
            F.when(F.col("src") < 6, "a").otherwise("b").alias("graph"),
            "src",
            "dst",
        )
        return odd_vertex_reach(tagged, **kw)

    return {
        "cc": lambda gs, src, **kw: connected_components(gs, **kw),
        "cc_alternating": lambda gs, src, **kw: connected_components_alternating(gs, **kw),
        "odd_vertex_reach": odd,
        "bfs_all": lambda gs, src, **kw: bfs_distances(gs, src, direction="all", **kw),
        "bfs_out": lambda gs, src, **kw: bfs_distances(gs, src, direction="out", **kw),
        "bfs_in": lambda gs, src, **kw: bfs_distances(gs, src, direction="in", **kw),
        "lpa": lambda gs, src, **kw: label_propagation(gs, **kw),
        "weighted_lpa": lambda gs, src, **kw: weighted_label_propagation(gs, **kw),
        "k_core": lambda gs, src, **kw: k_core(gs, **kw),
        "hits": lambda gs, src, **kw: hits(gs, **kw),
        "pagerank": lambda gs, src, **kw: pagerank(gs, **kw),
        "pagerank_sources": lambda gs, src, **kw: pagerank(gs, sources=src, **kw),
    }


@pytest.mark.parametrize("ids", ["int", "long", "empty"])
@pytest.mark.parametrize("entry", list(_parity_entry_points()))
def test_fast_path_matches_forced_loop(spark, entry, ids):
    """Every graph entry point with a driver fast path returns the same
    schema (types and nullability) and the same rows from the fast path
    as from the forced distributed loop — on int ids (the fast path used
    to widen them to bigint), long ids, and an empty edge set."""
    ty = "long" if ids == "long" else "int"
    rows = [] if ids == "empty" else _PARITY_EDGES
    gs = GraphStream(
        spark.createDataFrame(rows, f"src {ty}, dst {ty}, val double")
    )
    src = spark.createDataFrame([(1,), (6,)], f"id {ty}")
    run = _parity_entry_points()[entry]
    fast = run(gs, src)
    forced = run(gs, src, small_input_rows=0)
    assert fast.schema == forced.schema, (fast.schema, forced.schema)
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, forced.collect())
    )


def test_algos_leave_session_conf_and_fast_paths_to_plans():
    """The fast-path contract and the loop shuffle-width policy live in
    ``plans/``: no algorithm writes session configuration or grows its
    own hand-written fast path."""
    import pathlib
    import re

    import gelly_streaming_spark.algos as algos

    banned = re.compile(r'conf\.set\(|conf\.unset\(|"spark\.sql\.|def _try_small_')
    found = [
        f"{p.name}:{i}: {line.strip()}"
        for p in sorted(pathlib.Path(algos.__file__).parent.glob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not found, found


def test_streaming_and_operators_leave_session_conf_to_the_runner():
    """``streaming/`` and ``operators/`` write no session configuration
    except the no-data pin inside ``run_foreach_batch``, the one place
    a streaming writer is built."""
    import ast
    import pathlib
    import re

    import gelly_streaming_spark.operators as operators
    import gelly_streaming_spark.streaming as streaming
    from gelly_streaming_spark.streaming import runner

    runner_src = pathlib.Path(runner.__file__)
    fn = next(
        n for n in ast.parse(runner_src.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "run_foreach_batch"
    )

    def in_runner(p, i):
        return p == runner_src and fn.lineno <= i <= fn.end_lineno

    banned = re.compile(r'conf\.set\(|conf\.unset\(|"spark\.sql\.')
    found, writers = [], []
    for pkg in (streaming, operators):
        for p in sorted(pathlib.Path(pkg.__file__).parent.glob("*.py")):
            for i, line in enumerate(p.read_text().splitlines(), 1):
                if banned.search(line) and not in_runner(p, i):
                    found.append(f"{p.name}:{i}: {line.strip()}")
                if "writeStream" in line and pkg is streaming:
                    writers.append((p, i))
    assert not found, found
    assert len(writers) == 1 and in_runner(*writers[0]), writers


def test_algos_read_counts_from_observations():
    """A count a loop needs rides the checkpoint job it already runs, as
    an ``Observation``: no non-comment line in ``algos/`` calls
    ``.count()``, which would be a job of its own."""
    import pathlib

    import gelly_streaming_spark.algos as algos

    found = [
        f"{p.name}:{i}: {line.strip()}"
        for p in sorted(pathlib.Path(algos.__file__).parent.glob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if ".count()" in line.split("#", 1)[0]
    ]
    assert not found, found


def test_forced_loops_run_only_the_jobs_their_answer_needs(spark):
    """Forced-distributed PageRank (uniform and personalized) and
    alternating CC on G1, each under its own job group, counted with the
    status tracker including the caller's collect. Their loop-invariant
    tables are built inside the loop's width scope, and every count is
    observed on a checkpoint: 9, 10 and 4 jobs in this suite's session.
    Built at the session's width with AQE on and counted with separate
    ``count()`` jobs, the same calls ran 16, 20 and 5 jobs. The rows
    match the driver fast path."""
    import uuid

    from gelly_streaming_spark.algos.connected_components import (
        connected_components_alternating,
    )
    from gelly_streaming_spark.algos.pagerank import pagerank

    gs = GraphStream(fixture_graph(spark, "g1"))
    src = spark.sql("SELECT CAST(1 AS BIGINT) AS id")
    cases = {
        "pagerank": (lambda **kw: pagerank(gs, **kw), 9),
        "pagerank_sources": (lambda **kw: pagerank(gs, sources=src, **kw), 10),
        "cc_alternating": (lambda **kw: connected_components_alternating(gs, **kw), 4),
    }
    sc = spark.sparkContext
    for name, (run, bound) in cases.items():
        group = f"{name}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, f"{name} job count")
        try:
            forced = sorted(map(tuple, run(small_input_rows=0).collect()))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs <= bound, (name, jobs)
        assert forced == sorted(map(tuple, run().collect())), name

