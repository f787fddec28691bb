"""Plan-shape regression tests: the scale properties the engine promises
must be visible in the physical plan (SURVEY.md §4.2)."""

import pyspark.sql.functions as F

from gelly_streaming_spark import GraphStream
from gelly_streaming_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_wholestage_codegen,
)
from gelly_streaming_spark.queries import REGISTRY
from gelly_streaming_spark.sources.edges import edges_cust_order


def _fresh(name, spark, sf_dir):
    """Build a FRESH plan for explain assertions, bypassing the
    query-plan memo (r14): a memoized frame another test already
    executed explains the AQE FINAL plan, whose print duplicates the
    exchange subtree (initial + isFinalPlan sections) and breaks
    exchange-count asserts — the logical plan under test is the one a
    fresh build produces."""
    import inspect

    return inspect.unwrap(REGISTRY[name].fn)(spark, sf_dir)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    gs = GraphStream(edges_cust_order(spark, sf_dir)).filter_edges(F.col("val") > 150000)
    # val aliases o_totalprice — the predicate must reach the parquet scan
    assert_pushed_filters(gs.edges, "GreaterThan(o_totalprice,150000")


def test_semi_join_broadcasts(spark, sf_dir):
    df = _fresh("q05b_filter_vertices_semi", spark, sf_dir)
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_degrees_partial_aggregation(spark, sf_dir):
    from gelly_streaming_spark.plans import explain_str

    deg = GraphStream(edges_cust_order(spark, sf_dir)).degrees()
    plan = explain_str(deg)
    assert "partial_count" in plan, "degree count must have a map-side partial"
    assert_wholestage_codegen(deg)


def test_in_out_degrees_single_exchange(spark, sf_dir):
    """q09's fused form must do ONE shuffle (tag-explode + conditional
    counts), not two shuffled aggs + a full-outer join (three exchanges)."""
    from gelly_streaming_spark.plans import explain_str

    import re

    df = _fresh("q09_in_out_degrees", spark, sf_dir)
    plan = explain_str(df)
    # formatted explain prints each node twice (tree + detail header);
    # count the "(N) Exchange" detail headers only
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"expected 1 exchange, plan has {n_exchanges}:\n{plan}"
    assert "Join" not in plan, plan
    assert "partial_count" in plan, "fused degree counts must have map-side partials"


def test_triangles_no_cartesian_and_broadcast(spark, sf_dir):
    df = _fresh("q17_triangles", spark, sf_dir)
    assert_no_cartesian(df)


def test_iterative_loops_free_checkpoints(spark):
    """Pregel-style loops localCheckpoint per round; superseded blocks
    must be released (leaks = storage pressure now, OOM at 100 TB)."""
    from gelly_streaming_spark.algos.connected_components import connected_components
    from gelly_streaming_spark.plans import free_checkpoint
    from gelly_streaming_spark.sources.fixtures import g5_powerlaw

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    # small_input_rows=0 forces the distributed fixpoint (the code path
    # whose checkpoints can leak)
    out = connected_components(
        GraphStream(g5_powerlaw(spark, 300, 900)), small_input_rows=0
    )
    out.count()
    live = jsc.getPersistentRDDs().size() - before
    # only the final labels checkpoint may remain pinned
    assert live <= 1, f"{live} checkpoint RDDs leaked by the CC loop"
    free_checkpoint(out)


def test_q15d_runs_distributed_path(spark, sf_dir):
    """q15d must certify the DISTRIBUTED star-contraction plan: its result
    is a checkpointed labels frame produced by shuffle rounds, never the
    driver union-find's createDataFrame (which the q15/q15c entries
    already cover)."""
    from gelly_streaming_spark.plans import explain_str

    df = _fresh("q15d_cc_distributed", spark, sf_dir)
    plan = explain_str(df)
    # the distributed path ends in a localCheckpoint scan; the fast path
    # would show a local relation materialized from driver rows
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    assert "LocalTableScan" not in plan, plan


def test_column_pruning(spark, sf_dir):
    from gelly_streaming_spark.plans import explain_str

    df = _fresh("q08_degrees", spark, sf_dir)
    plan = explain_str(df)
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    # degrees only needs the two key columns — the scan must not read
    # o_totalprice/o_orderdate
    assert scan_lines and all("o_totalprice" not in ln for ln in scan_lines), scan_lines

def test_bucketed_ingest_join_and_agg_have_no_exchange(spark, sf_dir):
    """Ingest-time bucketing payoff: an equi-join of two tables bucketed
    on the same key, and a groupBy on the bucket key, both compile
    WITHOUT any Exchange — the shuffle is paid once at write time (the
    100 TB co-location convention; sources/ingest.py)."""
    import re

    import pyspark.sql.functions as F

    from gelly_streaming_spark.plans import explain_str
    from gelly_streaming_spark.sources.ingest import write_bucketed

    e = spark.range(0, 20_000).select(
        (F.col("id") % 997).alias("src"), (F.col("id") % 77).alias("dst")
    )
    v = spark.range(0, 997).select(
        F.col("id").alias("src"), (F.col("id") % 13).alias("w")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the test proves BUCKET co-location, not a
        # broadcast join that would hide a missing exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        eb = write_bucketed(e, "t_edges_b", ["src"], 8)
        vb = write_bucketed(v, "t_verts_b", ["src"], 8)
        joined = eb.join(vb, "src")
        agg = eb.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
        for df in (joined, agg):
            plan = explain_str(df)
            n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
            assert n_ex == 0, f"expected 0 exchanges:\n{plan}"
        assert joined.count() > 0 and agg.count() == 997
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_edges_b")
        spark.sql("DROP TABLE IF EXISTS t_verts_b")


def test_q30_bucketed_query_plan_has_no_exchange(spark, sf_dir):
    """The q30 registry query (certified against the q30 oracle by the
    driver) must actually run exchange-free: two aggs + a join on the
    bucket key over the src-bucketed catalog table."""
    import re

    from gelly_streaming_spark.plans import explain_str
    from gelly_streaming_spark.queries import REGISTRY

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the plan proves BUCKET co-location
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = _fresh("q30_bucketed_ingest", spark, sf_dir)
        plan = explain_str(df)
        n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_ex == 0, f"expected 0 exchanges:\n{plan}"
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_release_hooks_empty_session_caches(spark, sf_dir):
    """VERDICT r2 'what's wrong' #3: session-lifetime persists need an
    explicit release. After release_persisted, the edge-view memo is
    empty, the track_persist ledger is empty, and the frames report no
    storage level."""
    from gelly_streaming_spark.plans.memory import (
        release_persisted,
        session_memo,
        track_persist,
    )
    from gelly_streaming_spark.sources import edges as E

    base = E.copart_canonical(spark, sf_dir)
    base.count()
    assert base.storageLevel.useMemory or base.storageLevel.useDisk
    extra = track_persist(spark.range(10))
    extra.count()

    freed = release_persisted(spark)
    assert freed >= 2, freed
    assert session_memo(spark, "copart") == {}
    assert session_memo(spark, "persisted") == {}
    assert not (base.storageLevel.useMemory or base.storageLevel.useDisk)
    assert not (extra.storageLevel.useMemory or extra.storageLevel.useDisk)
    # the view rebuilds transparently on next use
    assert E.copart_canonical(spark, sf_dir).count() > 0


def test_release_persisted_drains_all_session_state(spark, sf_dir):
    """VERDICT r5 'missing' #1 / 'wrong' #2: one release hook must drain
    EVERY session-lifetime memo — persisted storage blocks, the triangle
    prep/stats memos (destroying their kernel broadcasts), the staged
    replay chunk dirs, and the table-plan memo."""
    import os

    from gelly_streaming_spark.algos.triangles import triangle_count
    from gelly_streaming_spark.operators.graphstream import GraphStream
    from gelly_streaming_spark.plans.memory import release_persisted, session_memo
    from gelly_streaming_spark.sources import edges as E
    from gelly_streaming_spark.streaming.sources import replay

    def persistent_ids() -> set:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()  # noqa: SLF001
        return {int(k) for k in jmap.keySet().toArray()}

    before_ids = persistent_ids()

    # populate every memo class: copart persist + triangle prep memo
    # (materialized session view => memoized, holds a broadcast) +
    # replay staging + table-plan memo
    tri = triangle_count(
        GraphStream(E.copart_canonical(spark, sf_dir)),
        canonical=True,
        materialized=True,
    )
    tri.count()
    replay(
        spark.range(8).selectExpr("id as src", "id+1 as dst"),
        None, 2, cache_key="release-test",
    )
    staged_dirs = list(session_memo(spark, "replay_stage").values())
    assert staged_dirs, "replay staging memo should be populated"
    tri_memo = dict(session_memo(spark, "tri_prep"))
    # the engine filled these memos above, so the names checked below
    # are the engine's own
    for name in ("copart", "tri_prep", "table_stage", "table_df"):
        assert session_memo(spark, name), f"{name} memo should be populated"
    # ANN index memos (ADVICE r12: release used to drain the IVF memo
    # but not the PQ one, handing a later q54 call a stale codes frame
    # whose lineage referenced the restaged dirs release deletes).
    # Sentinel entries suffice: the contract under test is "release
    # drains the memo", not the index build itself (covered by q48/q54).
    session_memo(spark, "ivf_index")[("sf", 8)] = object()
    session_memo(spark, "pq_index")[("sf", 8, 5)] = object()
    # query-plan memo (r14): entries pin restaged-scan refs like the
    # table-plan memo — a sentinel proves release drains it
    session_memo(spark, "query_plan")[("q99", "sf")] = object()

    release_persisted(spark)

    for name in (
        "persisted", "copart", "tri_prep", "tri_window_stats",
        "replay_stage", "table_stage", "table_df", "query_plan",
        "ivf_index", "pq_index",
    ):
        assert session_memo(spark, name) == {}, name
    for d in staged_dirs:
        assert not os.path.exists(d), f"staged dir leaked: {d}"
    # kernel broadcasts destroyed: destroyed broadcasts raise on .value
    for entry in tri_memo.values():
        bc = entry[2] if len(entry) > 2 else None
        if bc is not None:
            try:
                bc.value  # noqa: B018 — destroyed broadcast must raise
                raise AssertionError("broadcast survived release")
            except AssertionError:
                raise
            except Exception:
                pass  # destroyed — expected
    # no storage blocks added by this test survive the release
    # (tolerate blocks that predate this test; nothing NEW may remain)
    leaked = persistent_ids() - before_ids
    assert not leaked, f"leaked persistent RDDs: {leaked}"


def test_query_plan_memo_identity_and_scope(spark, sf_dir):
    """The per-session analyzed-plan memo (VERDICT r13 item 2): a
    memo_plan query returns the SAME DataFrame object on repeat calls
    (skipping builder + Catalyst analysis), keys by (name, sf_dir), and
    is drained by release_persisted. Iterative/checkpointing queries
    are NOT memoized — re-executing their returned frame would skip
    the measured work."""
    from gelly_streaming_spark.plans.memory import release_persisted
    from gelly_streaming_spark.queries import REGISTRY

    q = REGISTRY["q44_simhash_pairs"]
    a = q.fn(spark, sf_dir)
    b = q.fn(spark, sf_dir)
    assert a is b, "memoized query must return the identical frame"
    # the memo is a real plan: executing it still runs the pipeline
    assert a.limit(1).count() >= 0

    release_persisted(spark)
    c = q.fn(spark, sf_dir)
    assert c is not a, "release_persisted must drop the plan memo"

    # the iterative / checkpointing / index-building queries stay
    # unmemoized (their fn EXECUTES work; a memo would skip it on
    # re-run) — functools.wraps marks the memo wrapper with __wrapped__
    for name in (
        "q15d_cc_distributed", "q40_pack_sequences", "q41_mixture_sample",
        "q31_near_dup_collapse", "q54_knn_pq_adc", "q61_cc_skew_hub",
    ):
        assert not hasattr(REGISTRY[name].fn, "__wrapped__"), (
            f"{name} must not be plan-memoized"
        )
    assert hasattr(q.fn, "__wrapped__")


def test_session_state_lives_only_in_session_memo():
    """Every session-lifetime memo goes through ``plans.memory``'s one
    registry (``session_memo``), so ``release_persisted`` drains memos
    it never names: no other engine module patches ``_gss_*`` state onto
    a session."""
    import pathlib

    import gelly_streaming_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    found = [
        f"{p.relative_to(root)}:{i}: {line.strip()}"
        for p in sorted(root.rglob("*.py"))
        if p != root / "plans" / "memory.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "_gss_" in line
    ]
    assert not found, found


def test_staging_dir_leaves_exit_list_once_removed():
    """A staged dir stays on the exit hook's list until its memo's
    release removes it; then it is gone from disk and from the list."""
    import os

    from gelly_streaming_spark.plans import memory

    d = memory.session_tmpdir("gss_test_")
    assert d in memory._SESSION_TMPDIRS  # noqa: SLF001
    memory.remove_dir(d)
    memory.remove_dir(None)  # the "nothing staged" entry
    assert not os.path.exists(d)
    assert d not in memory._SESSION_TMPDIRS  # noqa: SLF001


def test_bounded_take_is_one_arrow_job(spark):
    """The probe collects as Arrow in ONE job — no incremental
    1→4→16-partition CollectLimit rounds — returns the ``+1`` overflow
    sentinel past the bound, and surfaces a failure inside the plan."""
    import uuid

    import pyspark.sql.functions as F
    import pytest

    from gelly_streaming_spark.plans.probe import bounded_take

    d = spark.range(0, 100, 1, 8).select(F.col("id").alias("v"))
    sc = spark.sparkContext
    group = f"bounded-take-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "bounded_take job count")
    try:
        tbl = bounded_take(d, 1000)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tbl.num_rows == 100
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    # overflow sentinel: n+1 rows come back when the bound is exceeded
    assert bounded_take(d, 10).num_rows == 11
    bad = d.select(F.expr("assert_true(v < 50)"), "v")
    with pytest.raises(Exception):
        bounded_take(bad, 1000)


def test_loop_shuffle_width_sizes_and_restores_on_error(spark):
    """The loop-width scope sets the policy's width (and AQE off at a
    tiny width when asked), re-sizes mid-loop, and restores both session
    settings when the loop body raises — also after it turned AQE off."""
    import pytest

    from gelly_streaming_spark.plans.shuffle import loop_shuffle_width

    parts, aqe = "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"
    before = (spark.conf.get(parts), spark.conf.get(aqe))
    try:
        spark.conf.set(parts, "8")
        spark.conf.set(aqe, "true")
        with pytest.raises(RuntimeError, match="mid-loop"):
            with loop_shuffle_width(spark, 10, aqe_off_when_tiny=True) as resize:
                assert (spark.conf.get(parts), spark.conf.get(aqe)) == ("1", "false")
                assert resize(3_000_000) == 7
                assert spark.conf.get(aqe) == "true"  # > 4 partitions
                assert resize(10**12, 250_000) == 8  # never past the session width
                resize(0)
                raise RuntimeError("mid-loop")
        assert (spark.conf.get(parts), spark.conf.get(aqe)) == ("8", "true")
        # loops that leave AQE alone do not touch it
        spark.conf.set(aqe, "false")
        with loop_shuffle_width(spark, 5_000_000):
            assert (spark.conf.get(parts), spark.conf.get(aqe)) == ("8", "false")
        assert (spark.conf.get(parts), spark.conf.get(aqe)) == ("8", "false")
    finally:
        spark.conf.set(parts, before[0])
        spark.conf.set(aqe, before[1])


def test_loop_width_from_plan_sizes_by_bytes_then_by_rows(spark):
    """A loop's first width comes from its plan estimate (64 MB per
    partition, before any job runs); ``resize`` then takes a measured ROW
    count at 500k rows per partition, not bytes."""
    from gelly_streaming_spark.plans.shuffle import loop_width_from_plan

    parts, aqe = "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"
    before = (spark.conf.get(parts), spark.conf.get(aqe))
    small = spark.sql("SELECT * FROM VALUES (1, 2), (2, 3) AS t(src, dst)")
    try:
        spark.conf.set(parts, "8")
        spark.conf.set(aqe, "true")
        with loop_width_from_plan(small, aqe_off_when_tiny=True) as resize:
            assert (spark.conf.get(parts), spark.conf.get(aqe)) == ("1", "false")
            assert resize(3_000_000) == 7
        assert (spark.conf.get(parts), spark.conf.get(aqe)) == ("8", "true")
    finally:
        spark.conf.set(parts, before[0])
        spark.conf.set(aqe, before[1])


def test_fixture_graphs_are_local_relations(spark):
    """Fixtures must stay driver-local data: a parallelized
    createDataFrame puts ≤9 rows in defaultParallelism RDD slices, so
    every probe/collect launched one task per slice plus a Python
    worker round (measured ~1 s per fixture collect on a 32-core
    session)."""
    from gelly_streaming_spark.sources.fixtures import FIXTURE_GRAPHS, fixture_graph

    for name, rows in FIXTURE_GRAPHS.items():
        df = fixture_graph(spark, name)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan, f"{name} is not a LocalRelation:\n{plan}"
        assert df.count() == len(rows)


def test_top_k_per_group_has_partial_window_group_limit(spark):
    """top_k_per_group's skew safety is Catalyst's WindowGroupLimit:
    each map partition pre-trims to k per group BEFORE the exchange, so
    a hot group ships k rows per upstream partition, not its whole
    population. Pin both the partial (below the shuffle) and final
    instances in the physical plan."""
    from gelly_streaming_spark.operators.joins import top_k_per_group

    d = spark.range(0, 1000).select(
        (F.col("id") % 5).alias("g"), F.col("id").alias("v")
    )
    out = top_k_per_group(d, ["g"], [F.desc("v")], 3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert out.count() == 15


def test_all_batch_query_plans_no_cartesian(spark, sf_dir):
    """Blanket plan-hygiene net over the WHOLE registry: no query may
    plan a CartesianProduct, and BroadcastNestedLoopJoin is allowed only
    where a bounded broadcast cross join is the design (kNN probe batch
    vs corpus, the exact near-dup GEMM blocking, tfidf's 1-row in-plan
    corpus count). Streaming replays are excluded (executing them here
    re-runs the streaming engine; their shapes are covered by
    tests/test_streaming.py)."""
    import re

    from gelly_streaming_spark.plans.checks import explain_str

    allowed_bnlj = {
        "q23_knn_cosine",          # bounded query batch broadcast vs corpus
        "q23b_embedding_near_dup", # blocked GEMM: bounded block id cross
        "q35_tfidf_keywords",      # 1-row corpus-count aggregate crossJoin
        "q45_centroid_assign",     # labels x dim centroid table broadcast
        "q52_semantic_dedup",      # same centroid-table broadcast (first
                                   # run builds the shared session index)
        "q53_lm_perplexity",       # 1-row vocabulary-size aggregate
                                   # crossJoin (the q35 convention)
        "q55_semantic_decontaminate",  # bounded eval-set broadcast vs
                                   # corpus (the q23 probe doctrine)
        "q59_pmi_collocations",    # 1-row bigram-total aggregate
                                   # crossJoin (the q35 convention)
    }
    import inspect

    for name, q in sorted(REGISTRY.items()):
        if re.match(r"q\d+s_", name):
            continue
        plan = explain_str(inspect.unwrap(q.fn)(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        if name not in allowed_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_source_overlap_three_shuffles_no_join(spark, sf_dir):
    """q50's r9 plan contract: the group column rides the shingle window
    (no doc-keyed join against the shingle stream), pairs expand in-row
    behind the collect_set aggregation barrier — exactly 3 exchanges
    (window, per-shingle agg, pair rollup) and ZERO joins."""
    from gelly_streaming_spark.ext.text import source_overlap
    from gelly_streaming_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = source_overlap(docs, n=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 3, f"{n_exchange} exchanges\n{plan}"


def test_curate_corpus_anti_join_is_broadcast(spark, sf_dir):
    """q42's r9 plan contract: the repetition-violator ∪ contamination-hit
    id set probes the corpus through ONE left-anti join that AQE converts
    to broadcast (the anti side is the filtered-out minority), so the
    corpus stream never shuffles after dedup. Verified POST-EXECUTION —
    AQE decides join strategies at runtime, not in the initial plan."""
    from gelly_streaming_spark.ext.pipeline import curate_corpus
    from gelly_streaming_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    out = curate_corpus(
        docs.where(F.col("doc_id") % 7 != 0),
        blocklist=docs.where(F.col("doc_id") % 7 == 0),
    )
    out.write.mode("overwrite").format("noop").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan
    # the anti probe(s) over the corpus must be broadcast, not sort-merge
    for line in plan.splitlines():
        if "LeftAnti" in line:
            assert "Broadcast" in line, line


def test_blas_pinning_applies_and_is_idempotent():
    """The numpy-kernel thread pin must (a) export the full env map the
    session ships to executors, (b) set every already-loaded OpenBLAS
    image to 1 thread via the ctypes path, and (c) be idempotent/cheap
    on repeat calls (it runs at every kernel entry)."""
    import ctypes
    import os
    import time

    import numpy as np

    from gelly_streaming_spark import blas

    assert blas.blas_env(1) == {v: "1" for v in blas.PIN_VARS}
    np.ones((16, 16)) @ np.ones((16, 16))  # ensure OpenBLAS is loaded
    blas._pinned = False  # isolate from earlier callers in this process
    blas.pin_blas_threads()
    for v in blas.PIN_VARS:
        assert os.environ[v] == "1"
    # the loaded numpy OpenBLAS must now report 1 thread. Environment
    # guard (ADVICE r9): on hosts whose numpy links MKL/BLIS/Accelerate
    # — or on non-Linux with no /proc — there is no OpenBLAS image to
    # interrogate; that exercises _set_loaded_openblas_threads'
    # documented no-op path, and only the env-var/idempotence halves of
    # this test apply. Skip the ctypes half rather than hard-failing.
    try:
        with open("/proc/self/maps") as fh:
            paths = {
                line.rsplit(" ", 1)[-1].strip()
                for line in fh
                if "openblas" in line.lower() and "/" in line
            }
    except OSError:
        paths = set()
    checked = 0
    for p in paths:
        lib = ctypes.CDLL(p)
        for sym in ("openblas_get_num_threads", "openblas_get_num_threads64_"):
            fn = getattr(lib, sym, None)
            if fn is not None:
                assert fn() == 1, (p, sym, fn())
                checked += 1
                break
    # an image that exposes NONE of the probed symbols is a loud
    # failure, not a silent pass — only a missing image (MKL/BLIS
    # numpy, no /proc) is a legitimate environment skip
    if paths:
        assert checked >= 1, f"OpenBLAS mapped but no probe symbol: {paths}"
    # idempotent and ~free on repeat (kernel-entry hot path)
    t0 = time.time()
    for _ in range(10_000):
        blas.pin_blas_threads()
    assert time.time() - t0 < 0.5
    if not paths:
        import pytest

        pytest.skip("no OpenBLAS image mapped (MKL/BLIS numpy or no /proc)")
