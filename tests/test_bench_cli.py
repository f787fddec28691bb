"""End-to-end guard for the bench delivery contract: the driver records
only the LAST 2000 chars of bench.py's output and parses one JSON line
out of that tail — two rounds were lost to delivery failures (truncated
line, timeout with nothing printed), so the delivery chain itself is
regression-tested here, as a real subprocess.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tail_line(stdout: str) -> dict:
    """Parse exactly as the driver does: the last JSON line within the
    final 2000 characters of output."""
    tail = stdout[-2000:]
    lines = [l for l in tail.splitlines() if l.strip().startswith("{")]
    assert lines, f"no JSON line in tail: {tail!r}"
    return json.loads(lines[-1])


def test_headline_headroom_at_60_queries():
    """The compact headline must stay inside the driver's 2000-char tail
    window as the query set grows (the r7 line sat at ~1860 chars for 48
    full-name queries — two more would have truncated the round's only
    bench signal). Keys are abbreviated headline-only; full names stay
    in bench_detail.json. Past the window, optional fields are shed and
    `queries` keeps every entry."""
    sys.path.insert(0, REPO)
    from bench import _SHEDDABLE_HEADLINE, compact_line

    from gelly_streaming_spark.queries import REGISTRY

    # the whole real registry (uniqueness of the abbreviation matters)
    # plus 30 hypothetical ids WELL past the real registry's range, so
    # they can never collide with a newly added real qNN
    names = sorted(REGISTRY) + [
        f"q{100 + i}_hypothetical_future_query_name_{i}" for i in range(30)
    ]
    result = {
        "metric": "total_wallclock_declared_queries",
        "value": 123.456, "value_max_runs": 234.567, "unit": "sec",
        "queries": {n: 12.345 for n in names}, "sf": 0.1,
        "runs_per_query": 3,
        "session_setup_sec": 25.485, "copart_build_sec": 3.007,
        "errors_present": True, "comparable_queries": len(names),
        "registered_queries": len(names), "partial": False,
        "host_steal_pct": 1.23, "errored_queries": [names[3]],
        "duckdb_total_sec": 49.155, "ratio_vs_duckdb": 0.757,
        "ratio_raw": 0.761, "matched_queries": len(names) - 2,
        "engine_matched_sec": 100.123, "duckdb_matched_sec": 48.111,
        "duck_skipped": [names[0], names[1]],
        "duckdb_cold_single_run": [names[2]],
        "heavy_engine_sec": 24.548, "heavy_duckdb_sec": 47.967,
        "ratio_heavy": 0.512,
    }
    line = compact_line(result)
    d = json.loads(line)
    assert len(line) <= 1900, len(line)
    assert len(d["queries"]) == len(names)  # abbreviation must not collide
    # the same record with a tiny query set keeps every field; the
    # difference is what the long line shed, and it must be optional
    full = set(json.loads(compact_line(dict(result, queries={"q01": 1.0}))))
    shed = full - set(d)
    assert shed, "the long line should exercise the shedding path"
    assert shed <= set(_SHEDDABLE_HEADLINE), shed
    # and the real registry shape of a clean run (no errors, every
    # oracle warm) has the VERDICT-mandated headroom
    real = dict(
        result,
        queries={n: 12.345 for n in sorted(REGISTRY)},
        errors_present=False,
    )
    for key in ("errored_queries", "duckdb_cold_single_run"):
        real.pop(key)
    real_line = compact_line(real)
    assert len(real_line) <= 1700, len(real_line)
    assert len(json.loads(real_line)["queries"]) == len(REGISTRY)


def test_matched_set_ratio_excludes_skipped_oracles():
    """BENCH_r08 regression: deferred DuckDB oracles that never ran must
    not leave the headline ratio dividing a full engine total by a
    partial duck total. The gate ratio covers the intersection only; the
    skipped names are surfaced."""
    sys.path.insert(0, REPO)
    from bench import compute_ratios

    timings = {
        "q01_scan": 1.0, "q07_distinct": 2.0, "q22_jaccard": 4.0,
        "q31_near_dup": 3.0,
    }
    # q22/q31 were deferred and the budget died first — no duck time
    duck = {"q01_scan": 0.5, "q07_distinct": 1.5}
    r = compute_ratios(timings, duck, copart_build_sec=1.0)
    assert r["matched_queries"] == 2
    assert r["duck_skipped"] == ["q22_jaccard", "q31_near_dup"]
    # copart build charged: q07 (a copart consumer) is matched
    assert r["engine_matched_sec"] == 4.0  # 1.0 + 2.0 + copart 1.0
    assert r["duckdb_matched_sec"] == 2.0
    assert r["ratio_vs_duckdb"] == 2.0
    # the raw mismatched division is preserved only as a diagnostic
    assert r["ratio_raw"] == round((10.0 + 1.0) / 2.0, 3)
    # heavy split stays intersection-only too
    assert r["heavy_queries"] == ["q01_scan", "q07_distinct"]

    # no copart consumer matched -> build not charged to the ratio
    r2 = compute_ratios({"q01_scan": 1.0}, {"q01_scan": 0.5}, 1.0)
    assert r2["engine_matched_sec"] == 1.0
    assert r2["ratio_vs_duckdb"] == 2.0

    # full coverage -> no duck_skipped key at all
    r3 = compute_ratios({"q01_scan": 1.0}, {"q01_scan": 0.5}, 0.0)
    assert "duck_skipped" not in r3


def test_budget_ladder_reserve_and_projection(monkeypatch):
    """The deferred-oracle reserve accelerates run-degradation but can
    never stop the loop (a stop leaves queries untimed — strictly worse
    than 1-run timings), and the projection ladder degrades runs as soon
    as the observed per-query rate cannot fit the remaining budget."""
    import time

    sys.path.insert(0, REPO)
    monkeypatch.setenv("BENCH_BUDGET_SEC", "300")
    from bench import _Budget

    b = _Budget()
    assert b.runs_allowed(3) == 3  # fresh budget, no estimate
    b.start = time.time() - 240  # 60 s left
    assert b.runs_allowed(3, reserve=50.0) == 1  # reserve squeezes to 1
    b.start = time.time() - 150  # 150 s left
    assert b.runs_allowed(3) == 3
    assert b.runs_allowed(3, reserve=40.0) == 2  # 110 < 0.4*300
    # projection: 40 queries x 3 s at the current rate > 60% of 150;
    # the projection ladder floors at 2 runs (a single cold run reports
    # first-use costs as steady state) — only the hard ladder forces 1
    assert b.runs_allowed(3, est_query_sec=3.0, n_remaining=40) == 2
    assert b.runs_allowed(3, est_query_sec=9.0, n_remaining=40) == 2
    # hard stop only at the wall itself, reserve notwithstanding
    b.start = time.time() - 297
    assert b.runs_allowed(3, reserve=50.0) == 0
    b.start = time.time() - 200  # 100 left, huge reserve: degrade, not stop
    assert b.runs_allowed(3, reserve=95.0) == 1


def test_bench_budget_stop_emits_parseable_tail(sf_dir):
    """A budget-limited run must end rc=0 with a parseable compact line
    in the 2000-char tail, partial flagged, no spurious errors from
    budget truncation, and a detail file matching the headline.

    The budget is DERIVED from a measured session-setup probe, not a
    constant: the old fixed 45 s passed with 2.3 s to spare on a quiet
    host and failed under parallel load (r8 judge run) — a contract test
    must test the contract, not the host's weather. The probe run itself
    asserts the zero-query flush contract (a budget exhausted during
    setup still emits a parseable partial line)."""

    def run_bench(budget_sec: str) -> subprocess.CompletedProcess:
        env = dict(
            os.environ,
            SPARK_GRAFT_SF_DIR=sf_dir,
            SPARK_GRAFT_CPUS="8",
            BENCH_BUDGET_SEC=budget_sec,
            BENCH_RUNS="1",
            BENCH_DUCKDB="0",
        )
        return subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True,
            text=True,
            env=env,
            timeout=300,
            cwd=REPO,
        )

    detail_path = os.path.join(REPO, "bench_detail.json")
    saved = None
    if os.path.exists(detail_path):
        with open(detail_path) as fh:
            saved = fh.read()
    try:
        # Probe: a 1 s budget is exhausted during setup — the run must
        # STILL exit 0 with a parseable zero-query partial line, and its
        # session_setup_sec measures this host's setup cost right now.
        probe = run_bench("1")
        assert probe.returncode == 0, probe.stderr[-500:]
        p = _tail_line(probe.stdout)
        assert p["comparable_queries"] == 0
        assert p["partial"] is True
        setup_sec = float(p["session_setup_sec"])
        assert setup_sec > 0

        # Real run: enough budget for setup (as measured on THIS host
        # under THIS load) plus margin for copart, the 20%-of-budget
        # warm-up cap AND at least one query. The r15/r16 flake:
        # setup*1.5+45 left the first query's runs_allowed at 0 whenever
        # run-2 setup drifted past the probe — the margin must clear the
        # harness's own setup costs, not just copart. With no DuckDB
        # side there is no deferred-oracle reserve, so the margin now
        # holds with room to spare.
        budget = setup_sec * 2 + 90
        proc = run_bench(str(int(budget)))
        assert proc.returncode == 0, proc.stderr[-500:]
        d = _tail_line(proc.stdout)
        assert d["metric"] == "total_wallclock_declared_queries"
        assert d["registered_queries"] >= 48
        assert d["comparable_queries"] >= 1
        # budget truncation must NOT masquerade as per-query errors
        assert d["errors_present"] is False, d.get("errored_queries")
        assert len(json.dumps(d)) < 1900
        with open(detail_path) as fh:
            detail = json.load(fh)
        assert detail["comparable_queries"] == d["comparable_queries"]
        assert detail["value"] == d["value"]
    finally:
        # the real detail file belongs to the last REAL bench run —
        # restore it so this test never clobbers a committed artifact
        if saved is not None:
            with open(detail_path, "w") as fh:
                fh.write(saved)


def test_timed_duck_run_cap_and_failure_semantics():
    """Deferred-oracle fair-share caps (r11): a run under the cap
    returns its elapsed time; a run past the cap is interrupted and
    flagged retryable; a genuinely failing statement is NOT flagged
    retryable (a retry would just fail again and burn budget)."""
    import threading

    import duckdb

    sys.path.insert(0, REPO)
    from bench import _timed_duck_run

    con = duckdb.connect()
    lock = threading.Lock()
    # fast statement, generous cap
    elapsed, interrupted = _timed_duck_run(con, lock, "SELECT 1", 30.0)
    assert elapsed is not None and elapsed < 5 and interrupted is False
    # quadratic statement, tiny cap -> interrupted, retryable
    slow = ("SELECT max(a.range * b.range) "
            "FROM range(100000000) a, range(1000) b")
    elapsed, interrupted = _timed_duck_run(con, lock, slow, 0.2)
    assert elapsed is None and interrupted is True
    # the connection survives the interrupt and still works
    elapsed, interrupted = _timed_duck_run(con, lock, "SELECT 2", 30.0)
    assert elapsed is not None and interrupted is False
    # broken SQL -> failure, NOT retryable
    elapsed, interrupted = _timed_duck_run(con, lock, "SELECT * FROM nope", 30.0)
    assert elapsed is None and interrupted is False


def test_oracle_subprocess_run_semantics(tmp_path):
    """Deferred oracles run in a fresh process (r11): success returns
    the child-measured elapsed, a kill past the cap is retryable, and
    a failing statement is not."""
    sys.path.insert(0, REPO)
    from bench import _oracle_subprocess_run

    sf = "/root/testdata/sf0.001"
    elapsed, interrupted, err = _oracle_subprocess_run(
        "SELECT count(*) FROM region", sf, 60.0
    )
    assert elapsed is not None and interrupted is False and err == ""
    # elapsed excludes child startup: a trivial statement is near-zero
    assert elapsed < 2.0
    slow = ("SELECT max(a.range * b.range) "
            "FROM range(100000000) a, range(1000) b")
    elapsed, interrupted, err = _oracle_subprocess_run(slow, sf, 1.0)
    assert elapsed is None and interrupted is True
    elapsed, interrupted, err = _oracle_subprocess_run(
        "SELECT * FROM no_such_table", sf, 60.0
    )
    assert elapsed is None and interrupted is False
    # the failure carries its cause for the audit log
    assert "no_such_table" in err


def test_headline_carries_cold_oracle_names():
    """duckdb_cold_single_run must survive into the compact headline
    (abbreviated) so the driver tail records the timing asymmetry."""
    sys.path.insert(0, REPO)
    from bench import compact_line

    result = {
        "metric": "total_wallclock_declared_queries",
        "value": 1.0, "unit": "sec", "queries": {"q22_jaccard_pairs": 1.0},
        "sf": 0.1, "runs_per_query": 3, "partial": False,
        "errors_present": False, "comparable_queries": 1,
        "registered_queries": 1, "host_steal_pct": 0.5,
        "session_setup_sec": 1.0, "copart_build_sec": 0.1,
        "duckdb_total_sec": 2.0,
        "duckdb_cold_single_run": ["q22_jaccard_pairs"],
    }
    d = json.loads(compact_line(result))
    assert d["duckdb_cold_single_run"] == ["q22"]


def test_steady_state_is_min_of_runs_after_the_first():
    """The one sampling rule: the min of runs 2..k, run 1 alone only
    when it is the only run. Run 1 carries the one-time session builds,
    so it is excluded even when it is the fastest."""
    sys.path.insert(0, REPO)
    from bench import steady_state

    assert steady_state([5.0]) == 5.0
    assert steady_state([9.0, 2.0, 3.0]) == 2.0
    assert steady_state([1.0, 2.0]) == 2.0


def test_env_knobs_match_module_docstring():
    """Every environment variable bench.py reads is listed in its module
    docstring, and every name listed there is read: a knob cannot come
    back without being documented, and a deleted one cannot linger in
    the docs. AST scan of os.environ.get / os.environ[...]; the names
    must be literals so the scan can see them."""
    import ast
    import re

    with open(os.path.join(REPO, "bench.py")) as fh:
        tree = ast.parse(fh.read())

    def is_environ(node):
        return (
            isinstance(node, ast.Attribute) and node.attr == "environ"
            and isinstance(node.value, ast.Name) and node.value.id == "os"
        )

    read = set()
    for node in ast.walk(tree):
        key = None
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "get"
            and is_environ(node.func.value)
        ):
            key = node.args[0]
        elif (
            isinstance(node, ast.Subscript)
            and isinstance(node.ctx, ast.Load)
            and is_environ(node.value)
        ):
            key = node.slice
        if key is not None:
            assert isinstance(key, ast.Constant), ast.dump(key)
            read.add(key.value)
    documented = set(
        re.findall(r"\b(?:BENCH|SPARK_GRAFT)_[A-Z0-9_]+", ast.get_docstring(tree))
    )
    assert read, "scan found no environment reads"
    assert read == documented, (
        f"read, undocumented: {sorted(read - documented)}; "
        f"documented, never read: {sorted(documented - read)}"
    )
