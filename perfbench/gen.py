"""Seeded input generators for the workloads.

Every generator draws from ``rng(seed, pass_idx, workload)``, so one
(seed, pass) pair always yields the same files and every pass of a run
reads inputs no earlier pass has seen. The program under test only ever
receives the parquet files written here; references are computed from
the same files (or, for the edge stream, from the same arrays).

The shape parameters below are what the workloads' ``why`` lines in
BENCHMARK.json state; ``describe`` renders them and a test keeps the two
in step.
"""

from __future__ import annotations

import os
import time
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Event and order times start here (2024-01-01 00:00:00 UTC, in seconds).
T0 = 1_704_067_200

EDGE_STREAM = dict(
    batches=2,  # parquet files per pass, one micro-batch each
    edges_per_batch=6_000,
    vertices=20_000,
    zipf_s=1.1,  # src skew; dst is uniform
    dup_share=0.05,  # events repeating an earlier (src, dst)
    ooo_share=0.10,  # events arriving late, within the watermark delay
    watermark_s=600,
    step_s=2,  # event-time spacing of consecutive events
)

GRAPH = dict(
    orders=26_000,
    customers=5_000,
    parts=10_000,
    lines_per_order=(1, 7),  # uniform inclusive range, mean 4
    zipf_s=1.1,  # customer and part skew
    loop_orders=3_000,  # the loop algorithms run on orders below this key
)

CORPUS = dict(
    docs=2_000,
    tokens=(8, 60),  # uniform inclusive document length range
    exact_dup_share=0.05,
    near_dup_share=0.05,
    passage_share=0.10,  # docs carrying one of 40 shared 12-token passages
    contam_share=0.03,  # docs carrying a 10-token span of an eval doc
)

_PASSAGES = 40
_PASSAGE_LEN = 12
_CONTAM_LEN = 10
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def rng(seed: int, pass_idx: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([seed, pass_idx, zlib.crc32(workload.encode())])


def zipf(r: np.random.Generator, n: int, s: float, size: int) -> np.ndarray:
    """Bounded Zipf draw over ranks 0..n-1 (rank k has weight (k+1)^-s)."""
    cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
    return np.searchsorted(cdf / cdf[-1], r.random(size), side="right")


def describe(workload: str) -> str:
    """One-line statement of a workload's input shape (BENCHMARK.json)."""
    if workload == "edge_stream":
        p = EDGE_STREAM
        return (
            f"{p['batches']} files x {p['edges_per_batch']} edges/pass, "
            f"Zipf({p['zipf_s']}) src, {p['dup_share']:.0%} dups, "
            f"{p['ooo_share']:.0%} late within {p['watermark_s']}s watermark; "
            "3 available-now pipelines: query lifecycle and state store"
        )
    if workload == "batch_snapshot":
        p, c = GRAPH, CORPUS
        return (
            f"{p['orders']} orders, ~{p['orders'] * 4} lineitems (restaged), Zipf({p['zipf_s']}); "
            f"CC, PageRank loops on orders < {p['loop_orders']}; {c['docs']} docs, "
            f"{c['exact_dup_share'] + c['near_dup_share']:.0%} dups, {c['passage_share']:.0%} "
            f"shared passages, {c['contam_share']:.0%} eval spans; 3 ext kernels"
        )
    raise ValueError(f"unknown workload {workload!r}")


def _write(table: pa.Table, path: str, mtime: float | None = None) -> None:
    # one row group per file, like the testdata tables
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    if mtime is not None:
        os.utime(path, (mtime, mtime))


# ---------------------------------------------------------------------------
# edge_stream
# ---------------------------------------------------------------------------


@dataclass
class EdgeStream:
    dir: str  # holds batch-00000.parquet ... in arrival order
    src: np.ndarray
    dst: np.ndarray
    val: np.ndarray  # whole cents as float64 (exact under DECIMAL(18,2))
    ts: np.ndarray  # event time, whole seconds since the epoch

    @property
    def rows(self) -> int:
        return len(self.src)


EDGE_SCHEMA = pa.schema(
    [
        ("src", pa.int64()),
        ("dst", pa.int64()),
        ("val", pa.float64()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def edge_stream(out_dir: str, r: np.random.Generator, p: dict = EDGE_STREAM) -> EdgeStream:
    """Power-law edge stream in event-time order, one file per micro-batch.

    Duplicates copy the endpoints of an event up to 500 positions back.
    Late events move back in event time by less than the watermark delay
    and stay in their batch, so none is ever behind the watermark of the
    batch that delivers it and no row is dropped.
    """
    n = p["batches"] * p["edges_per_batch"]
    nv = p["vertices"]
    perm = r.permutation(nv)  # hot vertices get scattered ids
    src = perm[zipf(r, nv, p["zipf_s"], n)].astype(np.int64)
    dst = r.integers(0, nv, n, dtype=np.int64)
    loops = dst == src
    dst[loops] = (dst[loops] + 1) % nv
    dup = np.flatnonzero(r.random(n) < p["dup_share"])
    dup = dup[dup > 0]
    back = np.minimum(dup, r.integers(1, 501, len(dup)))
    src[dup] = src[dup - back]
    dst[dup] = dst[dup - back]
    ts = T0 + np.arange(n, dtype=np.int64) * p["step_s"]
    late = r.random(n) < p["ooo_share"]
    ts[late] -= r.integers(1, p["watermark_s"] - 60, int(late.sum()))
    val = r.integers(1, 100_00, n).astype(np.float64) / 100.0
    os.makedirs(out_dir, exist_ok=True)
    now = float(int(time.time()))
    per = p["edges_per_batch"]
    for b in range(p["batches"]):
        s = slice(b * per, (b + 1) * per)
        t = pa.table(
            [src[s], dst[s], val[s], (ts[s] * 1_000_000).astype("datetime64[us]")],
            schema=EDGE_SCHEMA,
        )
        # the file source orders files by modification time: make it strict
        _write(t, os.path.join(out_dir, f"batch-{b:05d}.parquet"), now + b)
    return EdgeStream(out_dir, src, dst, val, ts)


# ---------------------------------------------------------------------------
# batch_snapshot: purchase graph
# ---------------------------------------------------------------------------


def purchase_graph(out_dir: str, r: np.random.Generator, p: dict = GRAPH) -> int:
    """``orders.parquet`` and ``lineitem.parquet`` in the testdata
    schema. Returns the number of rows written."""
    no = p["orders"]
    okey = np.arange(1, no + 1, dtype=np.int64)
    cust = (zipf(r, p["customers"], p["zipf_s"], no) + 1).astype(np.int64)
    day0 = np.datetime64("1992-01-01", "D")
    odate = day0 + r.integers(0, 2400, no)
    lo, hi = p["lines_per_order"]
    nlines = r.integers(lo, hi + 1, no)
    nl = int(nlines.sum())
    lkey = np.repeat(okey, nlines)
    linenum = (np.arange(nl) - np.repeat(np.cumsum(nlines) - nlines, nlines) + 1).astype(np.int32)
    part = (zipf(r, p["parts"], p["zipf_s"], nl) + 1).astype(np.int64)
    ship = np.repeat(odate, nlines) + r.integers(1, 31, nl)
    qty = r.integers(1, 51, nl).astype(np.float64)
    price = np.round(qty * r.integers(900, 2000, nl) / 10.0, 2)
    orders = pa.table(
        {
            "o_orderkey": okey,
            "o_custkey": cust,
            "o_orderstatus": r.choice(np.array(["F", "O", "P"]), no),
            "o_totalprice": r.integers(100_00, 500_000_00, no) / 100.0,
            "o_orderdate": odate.astype("datetime64[us]"),
            "o_orderpriority": r.choice(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), no
            ),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": lkey,
            "l_partkey": part,
            "l_suppkey": r.integers(1, 1001, nl, dtype=np.int64),
            "l_linenumber": linenum,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": r.integers(0, 11, nl) / 100.0,
            "l_tax": r.integers(0, 9, nl) / 100.0,
            "l_returnflag": r.choice(np.array(["A", "N", "R"]), nl),
            "l_linestatus": r.choice(np.array(["F", "O"]), nl),
            "l_shipdate": ship.astype("datetime64[us]"),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    _write(orders, os.path.join(out_dir, "orders.parquet"))
    _write(lineitem, os.path.join(out_dir, "lineitem.parquet"))
    return no + nl


# ---------------------------------------------------------------------------
# batch_snapshot: corpus
# ---------------------------------------------------------------------------


def load_vocab() -> tuple[np.ndarray, np.ndarray]:
    words, weights = [], []
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "vocab.txt")) as f:
        for line in f:
            if line.startswith("#") or not line.strip():
                continue
            w, c = line.split()
            words.append(w)
            weights.append(float(c))
    p = np.array(weights)
    return np.array(words), p / p.sum()


def corpus(out_dir: str, r: np.random.Generator, p: dict = CORPUS) -> int:
    """``documents.parquet`` in the testdata schema. Documents with
    ``doc_id % 97 == 0`` form the eval set that the curation pipeline
    holds out; contaminated documents carry a span of one of them.
    Returns the number of rows written."""
    words, wp = load_vocab()
    n = p["docs"]
    lo, hi = p["tokens"]
    toks = [list(r.choice(words, int(k), p=wp)) for k in r.integers(lo, hi + 1, n)]
    passages = [list(r.choice(words, _PASSAGE_LEN, p=wp)) for _ in range(_PASSAGES)]
    evals = np.arange(0, n, 97)
    for i in range(1, n):
        u = r.random()
        if u < p["exact_dup_share"]:
            toks[i] = list(toks[r.integers(0, i)])
        elif u < p["exact_dup_share"] + p["near_dup_share"]:
            t = list(toks[r.integers(0, i)])
            t[r.integers(0, len(t))] = str(r.choice(words, p=wp))
            toks[i] = t
        u = r.random()
        if u < p["passage_share"]:
            at = int(r.integers(0, len(toks[i]) + 1))
            toks[i][at:at] = passages[int(zipf(r, _PASSAGES, 1.1, 1)[0])]
        elif u < p["passage_share"] + p["contam_share"] and i % 97:
            src = toks[int(r.choice(evals))]
            k = min(_CONTAM_LEN, len(src))
            st = int(r.integers(0, len(src) - k + 1))
            at = int(r.integers(0, len(toks[i]) + 1))
            toks[i][at:at] = src[st : st + k]
    text = [" ".join(t) for t in toks]
    docs = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": r.choice(np.array(_LANGS), n, p=_LANG_P),
            "source": np.array([f"src{k}" for k in r.integers(0, 20, n)]),
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    return n
