#!/usr/bin/env python
"""Benchmark harness (driver contract): runs every registry query at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS] (default 32) and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Delivery contract (BENCH_r05/r06 failure modes): the headline line is
re-printed after EVERY completed query (last-line-wins, <1900 chars) and
the full record is rewritten to bench_detail.json each time;
SIGTERM/SIGINT flush a final line before exiting; Spark console progress
bars are off; a wall-clock budget degrades runs-per-query stepwise toward
1 and stops cleanly with "partial": true rather than being killed
mid-stage.

Sampling rule, the only one: each query runs BENCH_RUNS times, forced to
full materialization with a noop sink (no driver collect), and the
recorded value is the min of runs 2..k; run 1 carries the one-time
session builds and stands alone only when it is the only run that fit the
budget (``steady_state``). The DuckDB oracle is timed in the same run,
interleaved run-for-run with the engine, under the same rule; an oracle
slower than BENCH_DUCK_SLOW_SEC is deferred past the engine loop to a
fresh process, cold run plus an opportunistic warm run, min of the two.
Host steal over the whole run is recorded as ``host_steal_pct``; it is a
measurement and never triggers a re-run, a budget change or a verdict.

Knobs (environment):
  SPARK_GRAFT_SF_DIR       data directory (driver contract)
  SPARK_GRAFT_CPUS         local[N] cores (driver contract, default 32)
  BENCH_RUNS               runs per query (default 2)
  BENCH_DUCKDB             0 skips the DuckDB side (default 1)
  BENCH_BUDGET_SEC         wall-clock budget for the whole run (default 420)
  BENCH_QUERY_TIMEOUT_SEC  per-run engine watchdog (default 120)
  BENCH_DUCK_SLOW_SEC      inline-oracle cap before deferral (default 5)
"""

from __future__ import annotations

import json
import os
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

from gelly_streaming_spark.blas import blas_env
from gelly_streaming_spark.queries import REGISTRY
from gelly_streaming_spark.session import BUILD_CONFS, RUNTIME_CONFS
from gelly_streaming_spark.sources.tables import TABLES


def _warm_up(
    spark, sf_dir: str, budget: "_Budget | None" = None
) -> list[float]:
    """Warm the execution paths the queries use, so per-query timings
    measure steady-state distributed compute — not first-use costs that a
    long-lived session (or any real deployment) pays exactly once:
    whole-stage-codegen JIT compilation, broadcast-exchange setup, the
    Python/Arrow worker pool spin-up, and streaming state-store init.
    Measured: the FIRST shuffle+join query in a fresh session pays ~2-3 s
    of JIT alone (copart build: 5.5 s cold vs 1.6 s warm at sf0.1).
    The DuckDB baseline is timed warm the same way.

    Budget guard: warm-up is ~29 s on a quiet host but measured 100 s of
    a 300 s budget inside a host-steal window — a full warm-up that eats
    a third of the budget starves the queries it exists to serve. Stages
    are independent, so once elapsed warm-up exceeds 20% of the total
    budget the remaining stages are skipped (their one-time costs land
    in the affected queries' FIRST runs, which steady_state excludes).

    Returns the elapsed seconds of each stage that ran, recorded in the
    detail file as ``warmup_stage_secs``."""
    from pyspark.sql import functions as F

    from gelly_streaming_spark.sources.tables import TABLES, load_table

    cap = 0.2 * budget.total if budget is not None else float("inf")
    t_start = time.time()
    stage_secs: list[float] = []
    t_mark = time.time()

    def mark() -> None:
        nonlocal t_mark
        stage_secs.append(round(time.time() - t_mark, 3))
        t_mark = time.time()

    def over_cap() -> bool:
        return time.time() - t_start > cap

    # parquet footers + scan paths (load_table also restages
    # single-row-group files into parallel-scannable copies here, so the
    # one-time ingest cost lands in session setup, not a query timing)
    for t in TABLES:
        load_table(spark, sf_dir, t).write.mode("overwrite").format("noop").save()
    mark()
    if over_cap():
        return stage_secs

    # NOTE: the copart_canonical materialized view shared by
    # q07/q11b/q17/q18 is NOT built here — its build is a TIMED line
    # item charged to the benchmark total (see main), because leaving it
    # in untimed setup flattered every consumer query while the DuckDB
    # side recomputed the same join inside each timed SQL.

    # shuffle agg + collect_set/sort_array + broadcast join + explode
    d = spark.range(0, 32 * 1024, 1, 32).select(
        (F.col("id") % 997).alias("k"), (F.col("id") % 31).alias("v")
    )
    agg = d.groupBy("k").agg(
        F.count(F.lit(1)).alias("c"), F.sort_array(F.collect_set("v")).alias("s")
    )
    dim = spark.range(0, 997).select(F.col("id").alias("k"))
    (
        agg.join(dim.hint("broadcast"), "k")
        .select("k", "c", F.explode("s").alias("e"))
        .write.mode("overwrite").format("noop").save()
    )
    mark()
    if over_cap():
        return stage_secs
    # event-time window + distinct + top-k
    (
        d.select(F.window(F.timestamp_seconds("k"), "1 minute")["start"].alias("b"), "v")
        .distinct().orderBy("b").limit(10)
        .write.mode("overwrite").format("noop").save()
    )
    mark()
    if over_cap():
        return stage_secs
    # higher-order-function lambda codegen (collect_set(struct) +
    # transform/filter/flatten) — the copart build's expression shapes,
    # on synthetic rows: warms the generated-class cache so the TIMED
    # copart line item below measures the build's data work, not
    # first-use codegen compilation (measured ~0.7 s of the cold build)
    h = spark.range(0, 4096, 1, 8).select(
        (F.col("id") % 97).alias("k"),
        (F.col("id") % 13).alias("p"),
        F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 30).cast("int")).alias("dt"),
    )
    hg = h.groupBy("k").agg(
        F.sort_array(
            F.collect_set(
                F.struct(F.col("p").alias("pk"), F.window("dt", "1 day")["start"].alias("day"))
            )
        ).alias("parts"),
        F.sort_array(F.collect_set("p")).alias("pks"),
    )
    (
        hg.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, x -> transform("
                    "filter(pks, p -> p > x.pk), "
                    "p -> struct(x.day as bucket, x.pk as src, p as dst))))"
                )
            ).alias("e")
        )
        .select("e.*").distinct()
        .write.mode("overwrite").format("noop").save()
    )
    # the full decontamination shape on synthetic rows: sliding
    # collect_list window over posexplode (the shingle kernel shared by
    # q36/q37), distinct, AQE-probed join, count-distinct expand —
    # measured 6.2 s cold vs 0.8 s warm for q36 at sf0.1, mostly
    # first-use codegen/AQE machinery this pass absorbs
    mark()
    if over_cap():
        return stage_secs
    from gelly_streaming_spark.ext.text import decontaminate

    fake_docs = spark.range(0, 512, 1, 8).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[(F.col("id") * (i + 1) % 37).cast("string") for i in range(12)]
        ).alias("text"),
    )
    decontaminate(
        fake_docs.where(F.col("doc_id") % 7 != 0),
        fake_docs.where(F.col("doc_id") % 7 == 0),
        n=3,
    ).write.mode("overwrite").format("noop").save()
    mark()
    if over_cap():
        return stage_secs
    # Arrow/pandas worker pool (one task per core)
    d.groupBy("k").applyInPandas(
        lambda p: p.head(1), "k long, v long"
    ).write.mode("overwrite").format("noop").save()
    # Arrow driver collect + broadcast-variable + mapInPandas paths
    d.limit(64).toArrow()
    bc = spark.sparkContext.broadcast((1, 2, 3))

    def _echo(batches):
        for pdf in batches:
            yield pdf.assign(v=pdf["v"] + bc.value[0])

    d.mapInPandas(_echo, "k long, v long").write.mode(
        "overwrite"
    ).format("noop").save()
    # PSL rule tables (q49): the 539-row VALUES parse + analyze and the
    # lookup joins' first codegen are session-lifetime one-time costs —
    # build the per-session table cache and run one tiny lookup here so
    # a budget-degraded single-run q49 measures its steady state
    from gelly_streaming_spark.ext.web import registered_domain_lookup

    hosts = spark.range(0, 256, 1, 8).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".ex.co.uk")).alias("h")
    )
    registered_domain_lookup(hosts, F.col("h"), "dom").write.mode(
        "overwrite"
    ).format("noop").save()
    mark()
    if over_cap():
        return stage_secs
    # Broadcast-variable numpy-kernel machinery (the q17/q18 shape: a
    # multi-MB python broadcast read by every task of a 2-waves-per-core
    # mapInPandas). Measured: this path keeps improving over ~4
    # IDENTICAL invocations in a fresh session (2.95 → 1.88 → 1.34 →
    # 0.96 → 0.87 s for q17), so a median-of-3 lands mid-warming unless
    # the machinery is warmed here; after 4 synthetic rounds q17's first
    # post-prep run measures its 0.85 s plateau directly. Synthetic
    # data — no registry query runs in warm-up.
    import numpy as np
    import pandas as pd

    payload = (
        np.arange(1_000_000, dtype=np.int64),
        np.arange(1_000_000, dtype=np.int64),
        np.arange(500_000, dtype=np.int64),
    )
    bc_np = spark.sparkContext.broadcast(payload)

    def _probe(batches):
        from gelly_streaming_spark.blas import pin_blas_threads

        pin_blas_threads()
        u, v, code = bc_np.value
        for pdf in batches:
            t = 0
            for _ in pdf["id"]:
                idx = np.searchsorted(code, u[:50_000] * 3 + v[:50_000])
                t += int((idx % 7 == 0).sum())
            yield pd.DataFrame({"t": [t]})

    slices = spark.range(0, 64, 1, 64)
    for _ in range(4):
        slices.mapInPandas(_probe, "t long").groupBy().sum().collect()
        if over_cap():
            break
    bc_np.destroy()
    mark()
    # driver round-trips used by adaptive fast paths
    spark.createDataFrame([(1, 2)], "a long, b long").collect()
    if over_cap():
        return stage_secs
    # streaming machinery: file source + stateful agg + state store
    try:
        from gelly_streaming_spark.plans.memory import session_tmpdir
        from gelly_streaming_spark.streaming.runner import run_to_memory
        from gelly_streaming_spark.streaming.sources import replay

        tiny = spark.range(0, 8).select(
            F.col("id").alias("src"), F.col("id").alias("dst")
        )
        s = replay(tiny, session_tmpdir("gss_warm_"), 1)
        run_to_memory(s.groupBy("src").count(), "complete")
    except Exception:
        pass  # streaming warm-up is best-effort; queries still run cold
    mark()  # final streaming stage
    return stage_secs


def _timed_duck_run(con, lock, sql: str, cap: float):
    """Run one DuckDB statement with a wall-clock cap, enforced via
    ``con.interrupt()`` from a timer thread (the same guard pattern as
    the engine watchdog). Returns ``(elapsed_sec | None, interrupted)``:
    elapsed on success, ``(None, True)`` when the cap fired (the caller
    defers the oracle to a fresh process), ``(None, False)`` on a genuine
    failure (re-running would just fail again and burn budget)."""
    armed = {"on": True}
    fired = {"v": False}

    def _cancel():
        with lock:
            if armed["on"]:
                fired["v"] = True
                con.interrupt()

    timer = threading.Timer(cap, _cancel)
    timer.daemon = True
    timer.start()
    t0 = time.time()
    try:
        con.sql(sql).fetchall()
        return time.time() - t0, False
    except Exception as ex:
        # interrupted ONLY when OUR timer fired AND the failure is the
        # interrupt itself: a genuine failure (OOM, catalog error)
        # landing concurrently with the timer must not be retried —
        # it would fail again and burn the budget the cap protects.
        # isinstance, not exception-name matching (ADVICE r11): a duckdb
        # release renaming or subclassing InterruptException would have
        # silently reclassified cap-fired interrupts as permanent.
        import duckdb

        return None, fired["v"] and isinstance(ex, duckdb.InterruptException)
    finally:
        with lock:
            armed["on"] = False
        timer.cancel()


def _steal_jiffies() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat, or None off-Linux."""
    try:
        vals = list(map(int, open("/proc/stat").readline().split()[1:]))
        return vals[7], sum(vals)
    except Exception:
        return None


def _steal_pct(start: tuple[int, int] | None) -> float | None:
    """Percent of host CPU stolen by the hypervisor since ``start``.
    The single most explanatory covariate for run-to-run swings on this
    shared VM (BASELINE.md r8-r11: identical code measured 45-81 s
    totals across same-day windows) — recorded so every bench carries
    its own weather evidence instead of requiring a manual /proc/stat
    sample around the run."""
    end = _steal_jiffies()
    if start is None or end is None or end[1] <= start[1]:
        return None
    return round(100.0 * (end[0] - start[0]) / (end[1] - start[1]), 2)


def steady_state(runs: list[float]) -> float:
    """One query's recorded value: the min of runs 2..k. Run 1 carries
    the session-lifetime one-time builds (memoized kernel prep, first-use
    codegen, replay staging), so it is excluded whenever a later run
    exists, even when it is the fastest; it stands alone only when it is
    the only run that fit the budget. Used for the engine and the inline
    DuckDB oracle alike, so the ratio compares like with like."""
    return min(runs[1:]) if len(runs) >= 2 else runs[0]


# Child script for _oracle_subprocess_run: connect, recreate the table
# views, time the SQL from stdin, print one JSON line. Table names come
# in via argv (ADVICE r11: this was the third hardcoded copy of the
# table list — adding a table to sources/tables.py TABLES would have
# silently broken deferred oracles referencing it).
_ORACLE_RUNNER = r"""
import json, sys, time
import duckdb
sf_dir = sys.argv[1]
sql = sys.stdin.read()
con = duckdb.connect()
for t in sys.argv[2:]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
t0 = time.time()
con.sql(sql).fetchall()
print(json.dumps({"sec": time.time() - t0}))
"""


def _oracle_subprocess_run(sql: str, sf_dir: str, cap: float):
    """Time one oracle statement in a FRESH single-purpose process —
    the binary a standalone DuckDB user actually runs. Returns
    ``(elapsed | None, interrupted, err)``: elapsed on success, a kill
    past ``cap`` counts as interrupted, and a nonzero exit
    is a genuine failure with the child's stderr tail in ``err`` so
    the audit log carries the cause (missing file, OOM kill, ...).

    Used for the DEFERRED oracle passes only: in-process JVM-resident
    timings of the quadratic oracles measured up to 2.5x their clean-
    process cost with enormous variance (BASELINE.md r8: q22 3.9 s
    clean vs 10.1 s JVM-resident vs 62.6 s observed r11) — variance
    that starved the deferred runs out of their reserve entirely. The
    elapsed time is measured INSIDE the child around the SQL alone;
    the cap covers child startup too."""
    import subprocess

    try:
        proc = subprocess.run(
            [sys.executable, "-c", _ORACLE_RUNNER, sf_dir, *TABLES],
            input=sql.encode(),
            capture_output=True,
            timeout=cap,
        )
    except subprocess.TimeoutExpired:
        return None, True, ""
    if proc.returncode != 0:
        tail = proc.stderr.decode(errors="replace").strip()[-200:]
        return None, False, f"exit={proc.returncode}: {tail}"
    try:
        line = proc.stdout.decode().strip().splitlines()[-1]
        return float(json.loads(line)["sec"]), False, ""
    except Exception as ex:
        return None, False, f"unparseable child output: {ex}"


def _short_queries(queries: dict[str, float]) -> dict[str, float]:
    """Abbreviate per-query keys for the HEADLINE line only (q31_near_...
    -> q31): the driver keeps just the last 2000 chars of stdout, and at
    48 full-name queries the line sat ~1860 chars — two more queries
    would silently truncate the round's only bench signal. The first
    underscore-delimited token (q05b, q25s, ...) is unique by naming
    convention; if a future collision appears, fall back to full names
    and let the length-degradation ladder handle it. Full names always
    live in bench_detail.json."""
    short = {k.split("_", 1)[0]: v for k, v in queries.items()}
    return short if len(short) == len(queries) else queries


# Headline fields shed, in this order, if the line would outgrow the
# 1900-char tail window; `queries` and every other field always stay.
_SHEDDABLE_HEADLINE = (
    "value_max_runs", "errored_queries", "session_setup_sec",
    "duck_skipped", "duckdb_cold_single_run",
    "engine_matched_sec", "duckdb_matched_sec",
    "heavy_engine_sec", "heavy_duckdb_sec",
)


def compact_line(result: dict) -> str:
    """Build the headline JSON line (<1900 chars) from a full result
    dict. Module-level so the tail-window headroom is unit-testable
    against hypothetical larger query sets (tests/test_bench_cli.py)."""
    compact = {
        k: result[k]
        for k in (
            "metric", "value", "value_max_runs", "unit", "queries", "sf",
            "runs_per_query", "session_setup_sec", "copart_build_sec",
            "errors_present", "comparable_queries", "registered_queries",
            "partial", "host_steal_pct", "errored_queries", "duckdb_total_sec",
            "ratio_vs_duckdb", "ratio_raw", "matched_queries",
            "engine_matched_sec", "duckdb_matched_sec", "duck_skipped",
            "heavy_engine_sec", "heavy_duckdb_sec", "ratio_heavy",
            "duckdb_cold_single_run",
        )
        if k in result
    }
    # headline values at 2dp unconditionally (r15: the 87-query registry
    # pushed the 3dp line to 1705 chars, past the 1700 headroom mandate;
    # full 3dp precision stays in bench_detail.json)
    compact["queries"] = {
        k: round(v, 2) for k, v in _short_queries(compact.get("queries", {})).items()
    }
    for names_key in ("duck_skipped", "duckdb_cold_single_run"):
        if names_key in compact:
            compact[names_key] = sorted(
                n.split("_", 1)[0] for n in compact[names_key]
            )
    compact["detail"] = "bench_detail.json"
    # compact separators (r14): json.dumps' default ", "/": " padding
    # cost 2 chars per element — ~220 chars at the 82-query registry,
    # which alone pushed the line from ~1620 to ~1840 against the 1900
    # tail window. Still standard JSON.
    _dumps = lambda d: json.dumps(d, separators=(",", ":"))  # noqa: E731
    line = _dumps(compact)
    # `queries` is part of the driver contract (and the only O(n)
    # part) — shed optional fields instead if the line is too long.
    for opt in _SHEDDABLE_HEADLINE:
        if len(line) <= 1900:
            break
        compact.pop(opt, None)
        line = _dumps(compact)
    return line


# Queries whose DuckDB oracle recomputes the copart join that the engine
# builds ONCE as the timed copart_canonical line item — the matched-set
# engine total charges the build only when one of these is matched.
_COPART_CONSUMER_IDS = ("q07", "q11b", "q17", "q18")


def compute_ratios(
    timings: dict[str, float],
    duck: dict[str, float],
    copart_build_sec: float = 0.0,
) -> dict:
    """Ratio fields over the MATCHED query set only.

    BENCH_r08 failure: deferred slow oracles ran out of budget, so 4
    queries had engine times but no DuckDB time — yet the headline ratio
    divided the 62-query engine total by the 58-query duck total (6.03
    recorded vs 2.39 with the missing oracles imputed). The gate metric
    ``ratio_vs_duckdb`` is now engine/duck over queries timed on BOTH
    sides; the mismatched raw division survives only as ``ratio_raw``,
    and ``duck_skipped`` names every engine-timed query the oracle side
    missed so the tail line is self-diagnosing."""
    out: dict = {}
    matched = sorted(n for n in timings if n in duck)
    skipped = sorted(n for n in timings if n not in duck)
    eng_m = sum(timings[n] for n in matched)
    duck_m = sum(duck[n] for n in matched)
    if any(n.split("_", 1)[0] in _COPART_CONSUMER_IDS for n in matched):
        eng_m += copart_build_sec
    out["matched_queries"] = len(matched)
    if skipped:
        out["duck_skipped"] = skipped
    out["engine_matched_sec"] = round(eng_m, 3)
    out["duckdb_matched_sec"] = round(duck_m, 3)
    if duck_m > 0:
        out["ratio_vs_duckdb"] = round(eng_m / duck_m, 3)
    raw_total = sum(timings.values()) + copart_build_sec
    raw_duck = sum(duck.values())
    if raw_duck > 0:
        out["ratio_raw"] = round(raw_total / raw_duck, 3)
    # Floor-vs-plan split (BASELINE.md): queries where the DuckDB time
    # is >= 0.1 s are "heavy" — above the trivial-query engine floor, so
    # the ratio over them compares plan quality, not job-launch constants.
    heavy = [n for n in matched if duck[n] >= 0.1]
    heavy_duck = sum(duck[n] for n in heavy)
    if heavy_duck > 0:
        out["heavy_queries"] = heavy
        out["heavy_engine_sec"] = round(sum(timings[n] for n in heavy), 3)
        out["heavy_duckdb_sec"] = round(heavy_duck, 3)
        out["ratio_heavy"] = round(out["heavy_engine_sec"] / heavy_duck, 3)
    return out


class _Budget:
    """Wall-clock budget for the whole bench run (env BENCH_BUDGET_SEC,
    default 420 s). The driver kills bench.py with SIGTERM at ITS budget
    (rc 124, BENCH_r06) — printing nothing until the end loses the whole
    round's signal. Under budget pressure this degrades runs-per-query
    toward 1 and finally stops cleanly with ``"partial": true``; independent
    of the budget, the headline line is re-printed after EVERY completed
    query (last-line-wins) and on SIGTERM/SIGINT, so any kill point
    still leaves a parseable line in the output tail."""

    def __init__(self) -> None:
        # Default raised 300 -> 420 (r12): at 69 registered queries the
        # warm+steady ladder plus the 80 s oracle reserve filled 300 s
        # with ZERO slack. The budget is a cap, not a target; the
        # extra headroom only matters when the window is bad. The
        # driver's own outer timeout is comfortably above this: its r6
        # SIGTERM landed past the 480 s q33 plan bug, and
        # BENCH_BUDGET_SEC=900 local runs (BASELINE r7 row) completed
        # unkilled; the per-query last-line-wins emit + SIGTERM flush
        # keeps any kill point parseable regardless.
        self.total = float(os.environ.get("BENCH_BUDGET_SEC", "420"))
        self.start = time.time()

    def remaining(self) -> float:
        return self.total - (time.time() - self.start)

    def runs_allowed(
        self,
        configured: int,
        est_query_sec: float | None = None,
        n_remaining: int = 0,
        reserve: float = 0.0,
    ) -> int:
        """Runs for the NEXT query under budget pressure.

        ``reserve`` is wall-clock earmarked for the deferred slow oracles
        (they used to run on leftovers; BENCH_r08 ran out and the ratio
        lost its 2 slowest DuckDB queries). The reserve ONLY accelerates
        run-degradation — it must never stop the loop early: a stop
        leaves queries untimed (partial:true), strictly worse than
        1-run timings plus fully-timed oracles. ``est_query_sec`` is the
        observed average wall per query at the CURRENT run rate — when
        the projection for the queries still ahead exceeds 60% of the
        effective remainder, runs degrade ahead of the old fixed
        20%/40%-of-total ladder (which only reacted once the budget was
        nearly gone — BENCH_r08's first tail line said partial:true)."""
        if self.remaining() <= 5:
            return 0  # hard stop — leave time to flush the final line
        rem = self.remaining() - reserve
        allowed = configured
        if rem <= 5 or rem < 0.2 * self.total:
            allowed = 1
        elif rem < 0.4 * self.total:
            allowed = min(configured, 2)
        if est_query_sec and n_remaining > 0:
            # Projection degradation floors at 2 runs: a query whose ONLY
            # run is its first-ever execution reports first-use codegen/
            # build costs as its steady state (measured: q48 7.5 s as a
            # single cold run vs ~1 s warm) — steady_state needs at
            # least one warm run to land on. Only the hard 20%-of-budget
            # ladder above may force 1.
            projected = est_query_sec * n_remaining
            while allowed > 2 and projected > 0.6 * max(rem, 1.0):
                projected *= (allowed - 1) / allowed
                allowed -= 1
        return allowed


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    budget = _Budget()

    # Pin BLAS pools in this process BEFORE the JVM starts: local-mode
    # Python workers inherit the JVM's env (itself inherited from here),
    # so every numpy kernel runs single-threaded under Spark's own
    # 32-task parallelism (the BENCH_r08 q23b/q17 steal amplifier).
    for k, v in blas_env(1).items():
        os.environ.setdefault(k, v)
    builder = (
        SparkSession.builder.appName("gelly-streaming-bench")
        .master(f"local[{cpus}]")
    )
    for k, v in {**BUILD_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # Mutable scalars shared with the emit closures — populated during
    # setup, but the signal handler must be able to build a valid line
    # even if the kill arrives BEFORE setup finishes (warm-up runs tens
    # of seconds; a kill inside it previously printed nothing at all).
    meta = {"setup_sec": 0.0, "copart_build_sec": 0.0}
    steal_start = _steal_jiffies()

    # BENCH_RUNS timed executions per query, recorded by steady_state.
    # The DuckDB baseline (BENCH_DUCKDB=0 disables) is timed the same
    # way in the same process, and its runs are INTERLEAVED with the
    # engine's per run (engine, duck, engine, duck, ...): with the two
    # sides in separate sequential phases minutes apart, a steal burst
    # during one phase moved the headline ratio by ±0.5× run to run;
    # adjacent interleaved runs sample the same noise window, so the
    # ratio compares plans, not weather. Exception: an oracle that blows
    # past BENCH_DUCK_SLOW_SEC is interrupted and re-run at the very END
    # of the bench (see the loop comment) — interleaving a 30 s all-core
    # burn heated the engine runs that followed it.
    runs_per_query = int(os.environ.get("BENCH_RUNS", "2"))
    duck_con = None
    if os.environ.get("BENCH_DUCKDB", "1") != "0":
        import duckdb

        duck_con = duckdb.connect()
        for t in TABLES:
            duck_con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    timings_max: dict[str, float] = {}
    duck: dict[str, float] = {}
    duck_min: dict[str, float] = {}
    duck_cold: list[str] = []  # deferred oracles recorded from a single cold run
    # per-deferred-oracle audit trail (detail file only): why each run
    # happened or didn't — 'no-budget(rem=...)' entries are the evidence
    # when duck_skipped names an oracle (r11: two same-day runs skipped
    # both quadratic oracles with no recorded cause)
    deferred_log: dict[str, str] = {}
    errors: dict[str, str] = {}
    n_total = len(REGISTRY)
    partial = {"v": True}  # flipped off only when the loop completes

    def build_result() -> dict:
        # `value` = copart build + per-query steady states of every
        # SUCCESSFUL query. An errored query is absent from `queries`, so
        # the total is a subtotal over `comparable_queries` — flagged
        # loudly, never a silent improvement.
        total = round(sum(timings.values()) + meta["copart_build_sec"], 3)
        # worst-run total: includes every one-time session build that
        # only run 1 pays (memoized triangle-kernel prep, replay
        # staging, strategy probes) — the headline excludes those by
        # construction, so this is the honest upper bound it is read
        # against.
        total_max = round(sum(timings_max.values()) + meta["copart_build_sec"], 3)
        result = {
            "metric": "total_wallclock_declared_queries",
            "value": total,
            "value_max_runs": total_max,
            "unit": "sec",
            "queries": timings,
            "queries_min": timings_min,
            "queries_max": timings_max,
            "sf": float(sf),
            "runs_per_query": runs_per_query,
            "session_setup_sec": meta["setup_sec"],
            # per-stage warm-up seconds (detail only)
            "warmup_stage_secs": meta.get("warmup_stage_secs", []),
            # per-deferred-oracle outcomes (detail only): the evidence
            # trail when duck_skipped names an oracle
            "deferred_oracles": deferred_log,
            "copart_build_sec": meta["copart_build_sec"],
            "policy": (
                "value = copart_build_sec + sum over successful queries of "
                "the min of runs 2..k, k = BENCH_RUNS "
                f"({runs_per_query}); run 1 carries one-time session builds "
                "and counts only when it is the only run that fit the "
                "budget. The copart view is built once as a timed line item; "
                "DuckDB recomputes that join inside q07/q11b/q17/q18. Inline "
                "DuckDB oracles run interleaved with the engine runs under "
                "the same rule; oracles slower than BENCH_DUCK_SLOW_SEC run "
                "after the loop in a fresh process, min of a cold and an "
                "opportunistic warm run (duckdb_cold_single_run names the "
                "cold-only ones). A query that errors on any run is left out "
                "of queries/value and listed under errors. partial=true: the "
                f"budget (BENCH_BUDGET_SEC={budget.total:.0f}) or a signal "
                "stopped the run first. host_steal_pct is recorded, never "
                "acted on."
            ),
            "errors_present": bool(errors),
            "comparable_queries": len(timings),
            "registered_queries": n_total,
            "partial": partial["v"],
            # whole-run hypervisor steal: the weather covariate, sampled
            # process-start -> each emit
            "host_steal_pct": _steal_pct(steal_start),
        }
        if errors:
            result["errors"] = errors
            result["errored_queries"] = sorted(errors)

        # Same-run DuckDB baseline ON BY DEFAULT (BENCH_DUCKDB=0
        # disables), so every BENCH_r*.json carries its own same-host
        # ratio. Timed interleaved run-for-run with the engine. The
        # headline ratio_vs_duckdb is the MATCHED-SET ratio — queries
        # timed on both sides — never a raw total over mismatched sets
        # (compute_ratios docstring has the BENCH_r08 postmortem).
        if duck_con is not None:
            result["duckdb_queries"] = duck
            result["duckdb_queries_min"] = duck_min
            result["duckdb_total_sec"] = round(sum(duck.values()), 3)
            if duck_cold:
                # names whose DuckDB timing is a single COLD run (the
                # reserve could not absorb a warm-up) — every other
                # timing on both sides is a steady-state estimate, so
                # flag the asymmetry instead of hiding it in the total
                result["duckdb_cold_single_run"] = sorted(duck_cold)
            result.update(
                compute_ratios(timings, duck, meta["copart_build_sec"])
            )
        return result

    def emit(newline_first: bool = False) -> None:
        """Print the compact headline JSON line and persist the full
        detail file. Called after EVERY completed query so the driver's
        last-2000-chars tail always contains a complete line no matter
        when the process is killed (last-line-wins); each line is kept
        <1900 chars so it fits the tail window whole. The detail file is
        rewritten on every emit too — an uncatchable kill (SIGKILL/OOM)
        must not leave a headline pointing at a PREVIOUS run's detail.
        ``newline_first`` self-delimits the line when the caller may be
        interrupting a partially-written stdout line (signal handler)."""
        result = build_result()
        try:
            with open(
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "bench_detail.json",
                ),
                "w",
            ) as fh:
                json.dump(result, fh, indent=1)
        except OSError:
            pass  # detail file is best-effort; the stdout line is the contract
        line = compact_line(result)
        if newline_first:
            sys.stdout.write("\n")
        print(line, flush=True)

    def _on_signal(signum, frame):  # noqa: ANN001 - signal API
        # The driver's timeout sends SIGTERM; flush a final parseable
        # line and exit immediately (no Spark teardown — the process is
        # being killed anyway and a clean stop() can hang in the JVM).
        # The handler interrupts the main thread, possibly mid-print:
        # newline_first self-delimits so the flushed line is parseable
        # even when it lands after a partially-written one. os._exit
        # skips atexit, so staging dirs are purged explicitly.
        try:
            emit(newline_first=True)
            from gelly_streaming_spark.plans.memory import purge_session_tmpdirs

            purge_session_tmpdirs()
        finally:
            os._exit(0)

    # Handlers registered BEFORE warm-up: a driver kill during the
    # multi-ten-second setup must still flush a (zero-query, partial)
    # parseable line, not die silently.
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    t_setup = time.time()
    meta["warmup_stage_secs"] = _warm_up(spark, sf_dir, budget)
    meta["setup_sec"] = round(time.time() - t_setup, 3)

    # Cost-attribution policy (stated in the output JSON): the
    # session-lifetime copart_canonical view shared by q07/q11b/q17/q18
    # is built ONCE here as a TIMED line item included in `value`; the
    # DuckDB side recomputes the equivalent join inside each consumer
    # query's timed SQL (its oracle strings are self-contained).
    from gelly_streaming_spark.sources.edges import copart_canonical

    t0 = time.time()
    copart_canonical(spark, sf_dir).write.mode("overwrite").format("noop").save()
    meta["copart_build_sec"] = round(time.time() - t0, 3)

    # Per-query watchdog: a single stuck engine query (the r6 failure —
    # q33 blocked 480 s+ inside one Spark action) must not starve every
    # query after it. The timer cancels THIS run's job group only
    # (sc.setJobGroup / cancelJobGroup, ADVICE r7): cancelAllJobs had a
    # disarm race — a timer firing concurrently with query completion
    # could pass the `armed` check, lose the GIL while the main loop
    # disarmed and started the next query, then cancel the NEXT query's
    # healthy jobs. A group-scoped cancel landing late hits an already-
    # finished group — harmless by construction. `cancel_lock` serializes
    # the fire/disarm handoff so `fired` can never flip after the main
    # loop has already classified the run's outcome.
    per_query_cap = float(os.environ.get("BENCH_QUERY_TIMEOUT_SEC", "120"))
    out_of_budget = False
    cancel_lock = threading.Lock()
    duck_lock = threading.Lock()
    duck_slow_cap = float(os.environ.get("BENCH_DUCK_SLOW_SEC", "5"))
    duck_deferred: dict[str, str] = {}  # slow oracles, re-run after the loop
    # Wall-clock earmarked per deferred oracle (they were interrupted at
    # duck_slow_cap; the two quadratic ones actually run 8-18 s at sf0.1)
    # — a GUARANTEED reserve instead of leftovers, so the matched-set
    # ratio keeps its slowest DuckDB queries (BENCH_r08 lost q22/q31).
    # The reserve guarantees ONE (cold) run each; the steady-state
    # warm-up run is opportunistic on leftover budget — pre-reserving
    # double was measured to starve the tail engine queries down to a
    # single cold run each (duckdb_cold_single_run flags the asymmetry
    # honestly when the leftover doesn't stretch). The reserve only
    # accelerates run-degradation; it never stops the loop (runs_allowed
    # contract).
    defer_est = max(40.0, 8.0 * duck_slow_cap)
    loop_t0 = time.time()
    queries_done = 0
    ordered = sorted(REGISTRY.items())

    for name, q in ordered:
        # reserve scales with the number of deferred oracles (ADVICE
        # r11: a fixed ceiling under-reserved at >=3 deferred oracles,
        # re-creating the r8 starvation)
        reserve = defer_est * len(duck_deferred)
        # projection needs a stable sample: the first queries carry
        # one-time session builds that overestimate the steady rate
        est = (
            (time.time() - loop_t0) / queries_done
            if queries_done >= 5
            else None
        )
        runs_now = budget.runs_allowed(
            runs_per_query,
            est_query_sec=est,
            n_remaining=len(ordered) - queries_done,
            reserve=reserve,
        )
        if runs_now == 0 or out_of_budget:
            break  # budget exhausted — stop cleanly, partial stays true
        runs: list[float] = []
        druns: list[float] = []
        for run_i in range(runs_now):
            deadline = min(per_query_cap, max(5.0, budget.remaining()))
            group = f"bench:{name}#{run_i}"
            armed = {"on": True}
            fired = {"v": False}

            def _cancel(armed=armed, fired=fired, group=group):
                with cancel_lock:
                    if armed["on"]:
                        fired["v"] = True
                        spark.sparkContext.cancelJobGroup(group)

            watchdog = threading.Timer(deadline, _cancel)
            watchdog.daemon = True
            watchdog.start()
            spark.sparkContext.setJobGroup(
                group, f"bench run of {name}", interruptOnCancel=True
            )
            t0 = time.time()
            try:
                q.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                runs.append(time.time() - t0)
            except Exception as ex:  # one broken query must not kill the run
                if fired["v"] and deadline < per_query_cap:
                    # cancelled because the BUDGET ran out mid-run, not
                    # because this query hung: that is budget truncation
                    # (query simply absent, partial stays true), not a
                    # per-query failure to publish under `errors`.
                    out_of_budget = True
                elif fired["v"]:
                    errors[name] = (
                        f"watchdog: cancelled after {deadline:.0f}s "
                        f"(BENCH_QUERY_TIMEOUT_SEC)"
                    )
                else:
                    errors[name] = f"{type(ex).__name__}: {ex}"[:300]
                break
            finally:
                with cancel_lock:
                    armed["on"] = False
                watchdog.cancel()
                # PySpark has no clearJobGroup — drop the thread-local
                # property so untimed work runs ungrouped. NOTE the scope
                # limit: jobs submitted from streaming threads (q25s-q29s
                # run availableNow streams inside q.fn) don't inherit the
                # caller's group; a hang there is backstopped by the
                # run-level budget + SIGTERM flush, not this watchdog.
                for p in ("spark.jobGroup.id", "spark.job.description",
                          "spark.job.interruptOnCancel"):
                    spark.sparkContext.setLocalProperty(p, None)
            if (
                duck_con is not None
                and q.sql is not None
                and name not in duck_deferred
                and (not druns or druns[0] <= duck_slow_cap)
                and budget.remaining() > 10
            ):
                # A DuckDB oracle whose run exceeds BENCH_DUCK_SLOW_SEC
                # (default 5 s; the two quadratic exact-Jaccard SQLs run
                # 15-30 s each at sf0.1) is INTERRUPTED and deferred to
                # the end of the bench: a 30 s all-32-core DuckDB burn
                # mid-run heated every engine timing that followed it
                # (q23b's in-bench median sat 3-4x over its min purely
                # from q22/q31 oracle adjacency). Deferred oracles run
                # once after ALL engine timings are recorded, so the
                # ratio keeps its same-run property while the per-query
                # timings compare plans, not residual heat. The disarm
                # race (interrupt landing after completion would cancel
                # the NEXT query) is closed with the same lock+flag
                # shape as the engine watchdog. A duck failure must
                # never kill the bench.
                elapsed, interrupted = _timed_duck_run(
                    duck_con, duck_lock, q.sql, duck_slow_cap
                )
                if elapsed is not None:
                    druns.append(elapsed)
                elif interrupted:
                    duck_deferred[name] = q.sql
                # else: oracle-side failure — engine timing still counts
            if budget.remaining() - reserve <= 5:
                break  # keep whatever runs we have; flush and move on
        queries_done += 1
        # a query that errored on ANY run is excluded from timings
        # entirely (not its lucky runs): `queries`, `comparable_queries`,
        # and the DuckDB side then all cover the exact same query set,
        # as the policy states. A budget-truncated query keeps the runs
        # it completed; queries_max always shows the spread.
        if runs and name not in errors:
            timings[name] = round(steady_state(runs), 3)
            timings_min[name] = round(min(runs), 3)
            timings_max[name] = round(max(runs), 3)
            if druns:
                duck[name] = round(steady_state(druns), 3)
                duck_min[name] = round(min(druns), 3)
        emit()  # last-line-wins checkpoint after every query
    else:
        if not out_of_budget:
            partial["v"] = False

    # Deferred slow oracles: timed AFTER every engine timing is in the
    # book — their multi-ten-second all-core burns can no longer heat an
    # engine run. The main loop holds a wall-clock reserve per deferred
    # entry, so this phase runs on GUARANTEED time; if an oracle still
    # overruns, the matched-set ratio simply excludes it (duck_skipped
    # names it in the tail line) instead of silently shrinking the
    # denominator under the full engine total.
    # Cold pass — one run for every deferred oracle, each capped at its
    # FAIR SHARE of the remaining budget (floor defer_est) and
    # interrupted past it: without the cap, one hog oracle starves every
    # oracle after it — observed r11: a 62.6 s q22 cold run (the same
    # SQL measures 4–10 s in quiet windows) left q31 skipped entirely
    # AND overshot the budget by itself.
    deferred_cold: dict[str, float] = {}
    pending = [(n, s) for n, s in duck_deferred.items() if n not in errors]
    # names in `errors`: the engine side errored after the oracle was
    # deferred — an oracle timing with no engine counterpart would
    # inflate duckdb_total_sec outside the matched set
    for i, (name, sql) in enumerate(pending):
        rem = budget.remaining() - 5
        if rem <= 0:
            deferred_log[name] = f"no-budget(rem={rem:.1f})"
            continue
        # capped at remaining budget too (ADVICE r11): the floor could
        # otherwise start a long run with near-zero budget left and
        # overshoot the driver's own clock by itself
        cap = min(max(defer_est, rem / (len(pending) - i)), rem)
        # fresh single-purpose process, NOT the JVM-resident in-process
        # connection: residency overhead ran the quadratic oracles at
        # up to 2.5x with 4-60 s variance (see _oracle_subprocess_run),
        # which is what kept starving these runs out of their reserve
        cold, interrupted, err = _oracle_subprocess_run(sql, sf_dir, cap)
        if cold is None:
            deferred_log[name] = (
                f"cold-interrupted(cap={cap:.1f})" if interrupted
                else f"cold-failed(cap={cap:.1f}, {err})"
            )
            continue
        deferred_log[name] = f"cold={cold:.2f}"
        deferred_cold[name] = cold
        duck[name] = round(cold, 3)
        duck_min[name] = duck[name]
        duck_cold.append(name)
        emit()

    # Warm pass — opportunistic second run for steady-state parity
    # (VERDICT r9 item 4): every other timing on both sides excludes
    # run 1 as warm-up. Needs 2.5x the cold time of remaining headroom.
    # The recorded value is min(cold, warm), NOT blindly run 2: the two
    # runs are minutes apart (unlike the interleaved engine/duck pairs)
    # so a host-steal burst between them is uncorrelated — an observed
    # warm run measured 4x the cold one inside a burst, and recording
    # it would have REWARDED the engine with an inflated denominator.
    for name, cold in deferred_cold.items():
        if budget.remaining() < 2.5 * cold + 5:
            continue
        # capped at the same 2.5x-cold the precondition budgeted: an
        # in-burst warm run measured 4x its cold time, and unguarded it
        # would blow the driver's own clock — the min rule keeps the
        # cold value on interrupt
        warm, _, _err = _oracle_subprocess_run(
            duck_deferred[name], sf_dir, 2.5 * cold + 5
        )
        if warm is None:
            continue
        duck[name] = round(min(cold, warm), 3)
        duck_min[name] = duck[name]
        duck_cold.remove(name)
        deferred_log[name] += f" warm={warm:.2f}"
        emit()

    emit()


if __name__ == "__main__":
    main()
