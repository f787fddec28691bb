"""Benchmark entry point.

    python3 perfbench/run.py --workload edge_stream --seed 1 --seconds 11 --trace 0

Closed loop, one client: each pass calls the workload's pipelines and
analytics one at a time on ``local[<cores>]`` and waits for each. Pass 0
is the cold pass of a fresh process; ``--seconds`` divided by the
workload's nominal warm-pass time gives the number of warm passes that
follow. Every pass reads fresh inputs drawn from (seed, pass index), so
no session memo can serve an earlier pass's answer, and every answer is
checked against a reference computed outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` starts the
session with the live UI and prints per-layer metrics joined from spans,
Spark job records and streaming progress. The last stdout line is the
JSON result; a fuller record (host facts, passes, spans) is written to
``.perfbench_records``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

import boot
import spans
from workloads import WORKLOADS, canon, same

RECORDS = os.path.join(boot.ROOT, ".perfbench_records")


def proc_stat() -> tuple[int, int]:
    """(steal, total) jiffies over all cpus."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run_pass(spark, wl, tracer, pass_idx: int, seed: int, log: list) -> dict:
    """Prepare inputs and references, run the timed calls, check them."""
    t0 = time.perf_counter()
    ps = wl.prepare(os.path.join(boot.WORK, "input"), seed, pass_idx)
    prep_s = time.perf_counter() - t0
    tracer.pass_id = pass_idx
    results: dict = {}
    t0 = time.perf_counter()
    with tracer.span("pass", f"pass-{pass_idx}"):
        for call in wl.calls(spark, ps):
            try:
                with tracer.span(call.layer, call.name):
                    results[call.name] = call.fn(tracer.span)
            except Exception:
                log.append(f"pass {pass_idx} {call.name} raised:\n{traceback.format_exc()}")
    wall = time.perf_counter() - t0
    failed = 0
    for name, ref in ps.refs.items():
        got = results.get(name)
        if got is None or not same(canon(got, wl.result_cols[name]), ref):
            failed += 1
            if got is not None:
                log.append(f"pass {pass_idx} {name}: wrong answer ({len(got)} rows, want {len(ref)})")
    return {
        "pass": pass_idx,
        "wall_s": wall,
        "prep_s": prep_s,
        "rows": ps.rows,
        "failed": failed,
        "attempted": len(ps.refs),
        "stats": ps.stats,
        "dir": ps.dir,
    }


def release(spark, ps_dir: str) -> None:
    """Drop what a pass left in the session and on disk (untimed)."""
    from gelly_streaming_spark.plans.memory import release_persisted

    release_persisted(spark)
    spark.catalog.clearCache()
    gc.collect()
    shutil.rmtree(ps_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(boot.WORK, "checkpoints"), ignore_errors=True)


def latencies(wl, tracer, listener, warm_ids: set[int]) -> list[float]:
    """Micro-batch trigger times for the stream, per-call times otherwise."""
    if wl.name == "edge_stream":
        runs = [s for s in tracer.spans if s.layer == "streaming" and s.pass_id in warm_ids]
        return [
            p["ms"]["triggerExecution"]
            for p in listener.progress
            if any(s.start <= p["start"] <= s.end for s in runs)
        ]
    return [
        s.wall * 1e3
        for s in tracer.spans
        if s.pass_id in warm_ids and s.parent is not None and tracer.spans[s.parent].layer == "pass"
    ]


def per_layer(lm: dict, warm: list[dict], fixed: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics per warm pass; medians and peaks as they are."""
    out = {}
    for name, unit in spans.per_layer_names():
        if name in fixed:
            v = fixed[name]
        elif name == "algos.loop_rounds":
            v = sum(p["stats"].get("loop_rounds", 0) for p in warm) / len(warm)
        elif name.endswith(("_p50", "state_rows", "state_mem_mb")):
            v = lm[name]
        else:
            v = lm[name] / len(warm)
        out[name] = (v, unit)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(boot.ROOT, "gelly_streaming_spark")):
        print("perfbench: the gelly_streaming_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)
    shutil.rmtree(boot.WORK, ignore_errors=True)
    boot.prepare_env()

    spark, setup_s = boot.start_session(wl.name, traced)
    log: list[str] = []
    try:
        sc = spark.sparkContext
        listener = spans.progress_listener()
        spark.streams.addListener(listener)
        tracer = spans.Tracer(sc, traced)
        steal0 = proc_stat()
        passes = []
        # a fixed pass count per --seconds, not a deadline: passes keep
        # speeding up as the JIT settles, so a count that varied with the
        # host's speed would move the median
        for i in range(1 + max(1, round(args.seconds / wl.nominal_pass_s))):
            passes.append(run_pass(spark, wl, tracer, i, args.seed, log))
            release(spark, passes[-1]["dir"])
        listener.drain()
        steal1 = proc_stat()
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(sc._jvm.ProcessHandle.current().pid())
        host = {
            "nproc": boot.cores(),
            "master": boot.master(),
            "seed": args.seed,
            "steal_pct": 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "spark": spark.version,
            "python": platform.python_version(),
            "java": sc._jvm.System.getProperty("java.version"),
        }
        warm = passes[1:]
        warm_ids = {p["pass"] for p in warm}
        lat = latencies(wl, tracer, listener, warm_ids)
        e2e = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (passes[0]["wall_s"], "s"),
            "warm_pass_s": (statistics.median(p["wall_s"] for p in warm), "s"),
            "rows_per_s": (statistics.median(p["rows"] / p["wall_s"] for p in warm), "1/s"),
            "batch_latency_p50_ms": (statistics.median(lat), "ms"),
        }
        layers: dict[str, tuple[float, str]] = {}
        if traced:
            jobs, stages = spans.RestStatus(sc).settled()
            lm = spans.layer_metrics(tracer.spans, jobs, stages, listener.progress, warm_ids)
            fixed = {
                "session.start_s": setup_s,
                "session.peak_rss_mb": peak_rss,
                "trace.warm_pass_s": e2e["warm_pass_s"][0],
            }
            layers = per_layer(lm, warm, fixed)
    finally:
        boot.stop_session(spark)

    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    record = {
        "workload": wl.name,
        "trace": args.trace,
        "seconds": args.seconds,
        "host": host,
        "passes": [{k: v for k, v in p.items() if k != "dir"} for p in passes],
        "latency_samples_ms": lat,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "per_layer": {k: v for k, (v, _) in layers.items()},
        "error_rate": failed / attempted,
        "errors": log,
        "spans": [vars(s) for s in tracer.spans],
    }
    os.makedirs(RECORDS, exist_ok=True)
    with open(os.path.join(RECORDS, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(boot.WORK, ignore_errors=True)

    for line in log:
        print(line, file=sys.stderr)
    metrics = layers if traced else e2e
    print(f"host: {json.dumps(host)}")
    print(f"passes: 1 cold + {len(warm)} warm, {len(lat)} latency samples, "
          f"error_rate {failed}/{attempted}")
    for k, (v, u) in metrics.items():
        print(f"{k:32s} {v:14.4f} {u}")
    untraced = os.path.join(RECORDS, f"{wl.name}-seed{args.seed}-trace0.json")
    if traced and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["end_to_end"]["warm_pass_s"]
        print(f"tracing overhead on warm_pass_s: {e2e['warm_pass_s'][0] - base:+.4f} s "
              f"(untraced {base:.4f} s, same seed)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
