"""The benchmark's own tests: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import boot  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(boot.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generators ---------------------------------------------------------------


def _tables(d: str) -> dict:
    return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))}


@pytest.mark.parametrize(
    "make",
    [
        lambda d, r: gen.edge_stream(d, r),
        lambda d, r: gen.purchase_graph(d, r),
        lambda d, r: gen.corpus(d, r),
    ],
    ids=["edge_stream", "graph_snapshot", "corpus_curation"],
)
def test_generators_are_deterministic_per_seed_and_pass(tmp_path, make):
    for tag, (seed, pass_idx) in {"a": (7, 1), "b": (7, 1), "c": (7, 2), "d": (8, 1)}.items():
        make(str(tmp_path / tag), gen.rng(seed, pass_idx, "w"))
    a, b, c, d = (_tables(str(tmp_path / t)) for t in "abcd")
    assert a.keys() == b.keys() == c.keys() == d.keys()
    assert all(a[f].equals(b[f]) for f in a)
    assert not all(a[f].equals(c[f]) for f in a)  # another pass
    assert not all(a[f].equals(d[f]) for f in a)  # another seed


def test_edge_stream_shape(tmp_path):
    p = gen.EDGE_STREAM
    s = gen.edge_stream(str(tmp_path), gen.rng(1, 0, "edge_stream"))
    assert s.rows == p["batches"] * p["edges_per_batch"]
    assert len(os.listdir(tmp_path)) == p["batches"]
    # no event is at or behind the watermark of the batch that delivers it
    per = p["edges_per_batch"]
    for b in range(1, p["batches"]):
        wm = s.ts[: b * per].max() - p["watermark_s"]
        assert s.ts[b * per : (b + 1) * per].min() > wm
    late = (s.ts[1:] < s.ts[:-1]).mean()
    assert 0.5 * p["ooo_share"] < late < 1.5 * p["ooo_share"]
    assert (s.src != s.dst).all()


# -- metric names ---------------------------------------------------------------


def test_benchmark_json_names_and_units():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in b["workloads"]]
    names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert all(m["better"] in ("lower", "higher") for m in b["end_to_end"] + b["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_benchmark_json_matches_the_code():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    for w in b["workloads"]:
        assert w["why"] == gen.describe(w["name"])
        assert len(w["why"]) <= 200
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == spans.per_layer_names()


# -- span arithmetic ------------------------------------------------------------


def _job(job_id: int, group: str | None, start: float, end: float) -> dict:
    def stamp(t: float) -> str:
        return pd.Timestamp(t, unit="s").strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "GMT"

    j = {
        "jobId": job_id,
        "submissionTime": stamp(start),
        "completionTime": stamp(end),
        "stageIds": [job_id],  # one stage per job, numbered like it
    }
    if group is not None:
        j["jobGroup"] = group
    return j


def test_layer_self_time_splits_into_driver_only_and_in_job():
    t = 1_700_000_000.0
    sp = [
        spans.Span(0, "pass", "pass-1", 1, None, t, t + 10),
        spans.Span(1, "algos", "cc", 1, 0, t, t + 6),
        spans.Span(2, "operators", "plan", 1, 1, t + 1, t + 2),
        spans.Span(3, "streaming", "run", 1, 0, t + 6, t + 10),
    ]
    jobs = [
        _job(0, "span-1", t + 2.5, t + 3.5),
        _job(1, "span-1", t + 3.0, t + 4.0),  # overlaps the previous job
        _job(2, "span-2", t + 1.2, t + 1.6),
        _job(3, "some-run-id", t + 7, t + 8),  # a streaming job: by time
        _job(4, None, t + 20, t + 21),  # outside every span
    ]
    stage = {
        "numTasks": 4, "numFailedTasks": 0, "executorRunTime": 1000,
        "executorCpuTime": 500_000_000, "jvmGcTime": 10, "shuffleReadBytes": 2**20,
        "shuffleWriteBytes": 0, "memoryBytesSpilled": 0, "diskBytesSpilled": 0,
    }
    stages = {j["jobId"]: [stage] for j in jobs}
    jobs[1]["stageIds"].append(0)  # listed again, skipped: it ran in job 0
    m = spans.layer_metrics(sp, jobs, stages, [], {1})
    assert m["algos.wall_s"] == pytest.approx(5.0)  # self time, child excluded
    assert m["algos.in_job_s"] == pytest.approx(1.5, abs=2e-3)
    assert m["operators.in_job_s"] == pytest.approx(0.4, abs=2e-3)
    assert m["streaming.in_job_s"] == pytest.approx(1.0, abs=2e-3)
    assert m["algos.jobs"] == 2 and m["streaming.jobs"] == 1
    assert m["algos.stages"] == 2  # the skipped stage is counted once
    assert m["algos.exec_cpu_s"] == pytest.approx(1.0)
    assert m["algos.non_cpu_s"] == pytest.approx(1.0)
    for layer in spans.LAYERS:
        w = m[f"{layer}.wall_s"]
        assert m[f"{layer}.driver_only_s"] + m[f"{layer}.in_job_s"] == pytest.approx(w)


# -- tiny end-to-end runs ---------------------------------------------------------

TINY = {
    "EDGE_STREAM": dict(batches=2, edges_per_batch=300, vertices=400, step_s=30),
    "GRAPH": dict(orders=400, customers=80, parts=150, loop_orders=120),
    "CORPUS": dict(docs=250),
}


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    mp = pytest.MonkeyPatch()
    mp.setattr(boot, "WORK", str(tmp_path_factory.mktemp("work")))
    for attr, vals in TINY.items():
        for k, v in vals.items():
            mp.setitem(getattr(gen, attr), k, v)
    boot.prepare_env()
    spark, _ = boot.start_session("edge_stream", traced=True)
    yield spark
    spark.stop()
    mp.undo()


@pytest.mark.parametrize("name", list(workloads.WORKLOADS))
def test_tiny_run_is_correct_and_a_wrong_answer_counts(traced_spark, name):
    import run

    spark = traced_spark
    wl = workloads.WORKLOADS[name]
    tracer = spans.Tracer(spark.sparkContext, traced=True)
    listener = spans.progress_listener()
    spark.streams.addListener(listener)
    try:
        log: list[str] = []
        ok = run.run_pass(spark, wl, tracer, 0, seed=3, log=log)
        assert ok["failed"] == 0, log
        assert ok["attempted"] == len(wl.result_cols)
        run.release(spark, ok["dir"])

        class Wrong:  # the same workload, with its first answer losing a row
            name, result_cols, prepare = wl.name, wl.result_cols, wl.prepare

            def calls(self, spark_, ps):
                it = wl.calls(spark_, ps)
                first = next(it)
                yield workloads.Call(first.layer, first.name, lambda sp: _drop_row(first.fn(sp)))
                yield from it

        bad = run.run_pass(spark, Wrong(), tracer, 1, seed=3, log=log)
        run.release(spark, bad["dir"])
        assert bad["failed"] == 1
        listener.drain()

        jobs, stages = spans.RestStatus(spark.sparkContext).settled()
        m = spans.layer_metrics(tracer.spans, jobs, stages, listener.progress, {0})
        layers = {s.layer for s in tracer.spans if s.layer in spans.LAYERS}
        for layer in layers:
            w = m[f"{layer}.wall_s"]
            assert m[f"{layer}.jobs"] > 0 or layer == "operators"
            assert abs(m[f"{layer}.driver_only_s"] + m[f"{layer}.in_job_s"] - w) <= 0.05 * w
        if name == "edge_stream":
            assert m["streaming.batches"] >= gen.EDGE_STREAM["batches"] * len(wl.result_cols)
            assert all(p["dropped_by_watermark"] == 0 for p in listener.progress)
    finally:
        spark.streams.removeListener(listener)


def _drop_row(pdf: pd.DataFrame) -> pd.DataFrame:
    assert len(pdf), "the first call of every workload answers with rows"
    return pdf.iloc[:-1]
