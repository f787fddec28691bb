"""The workloads: inputs, reference answers and timed calls.

A workload's ``prepare`` writes one pass's inputs and computes their
reference answers (outside any timed region). ``calls`` yields the timed
calls: each is one call into a layer's public function, made by this
file and wrapped in a span by the runner, that returns its materialized
result as a pandas frame. ``run.py`` compares every result with its
reference.

References come from DuckDB running the registry's own ``oracle_sql()``
text wherever a call matches a registry query (the loop-graph ones with
the registry's order-key cut-off widened to this workload's), and from
pandas/numpy union-find otherwise.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd

import gen


@dataclass
class Call:
    layer: str  # the package module the call enters
    name: str
    # takes the runner's span factory, for child spans of other layers
    fn: Callable[[Callable], pd.DataFrame]


@dataclass
class Pass:
    dir: str
    rows: int  # input rows the pass consumes
    refs: dict[str, pd.DataFrame]
    stats: dict = field(default_factory=dict)  # filled by calls with stats= hooks
    parts: list = field(default_factory=list)  # a combined workload's own passes


def canon(pdf: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    """Order-insensitive, engine-neutral form of a result frame: floats
    at 6 decimals (the registry's cross-engine contract), times as UTC
    microseconds, rows sorted."""
    out = {}
    for c in cols:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.round(6)
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        else:
            s = s.astype(str)
        out[c] = s.to_numpy()
    return pd.DataFrame(out).sort_values(cols, ignore_index=True)


def same(got: pd.DataFrame, ref: pd.DataFrame) -> bool:
    """Equal canonical frames; ints and floats compare by value."""
    if got.shape != ref.shape:
        return False
    for c in ref.columns:
        a, b = got[c].to_numpy(), ref[c].to_numpy()
        if a.dtype.kind in "iuf" and b.dtype.kind in "iuf":
            if not np.array_equal(a.astype("float64"), b.astype("float64"), equal_nan=True):
                return False
        elif not np.array_equal(a, b):
            return False
    return True


def min_label_components(u: np.ndarray, v: np.ndarray) -> pd.DataFrame:
    """(id, component) with component = the smallest id it reaches."""
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    parent = np.arange(len(ids))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n = len(u)
    for a, b in zip(inv[:n], inv[n:]):
        ra, rb = find(a), find(b)
        if ra != rb:  # the smaller index (= smaller id) stays the root
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(x) for x in range(len(ids))])
    return pd.DataFrame({"id": ids, "component": ids[roots]})


def _duck(dir_: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(dir_, t)}.parquet'")
    return con


def _sql(con, sql: str, cols: list[str]) -> pd.DataFrame:
    return canon(con.sql(sql).df(), cols)


# ---------------------------------------------------------------------------
# edge_stream
# ---------------------------------------------------------------------------


class EdgeStream:
    """Three available-now pipelines over one staged power-law stream."""

    name = "edge_stream"
    nominal_pass_s = 4.0  # measured warm pass on 4 cores
    result_cols = {
        "degrees_update": ["id", "degree"],
        "slice_append": ["bucket", "id", "cnt", "sum_val"],
        "incremental_cc": ["id", "component"],
    }

    def prepare(self, work: str, seed: int, pass_idx: int) -> Pass:
        s = gen.edge_stream(
            os.path.join(work, "stream"), gen.rng(seed, pass_idx, self.name)
        )
        p = gen.EDGE_STREAM
        refs: dict[str, pd.DataFrame] = {}
        ids = pd.Series(np.concatenate([s.src, s.dst]))
        deg = ids.value_counts().rename_axis("id").reset_index(name="degree")
        refs["degrees_update"] = canon(deg, ["id", "degree"])
        # append mode emits exactly the hour windows the final watermark closed
        wm = int(s.ts.max()) - p["watermark_s"]
        ev = pd.DataFrame(
            {"bucket": s.ts // 3600 * 3600, "id": s.src, "cents": np.round(s.val * 100).astype(np.int64)}
        )
        ev = ev[ev.bucket + 3600 <= wm]
        win = ev.groupby(["bucket", "id"]).agg(cnt=("cents", "size"), cents=("cents", "sum")).reset_index()
        win["bucket"] = pd.to_datetime(win.bucket, unit="s")
        win["sum_val"] = win.cents / 100.0
        refs["slice_append"] = canon(win, ["bucket", "id", "cnt", "sum_val"])
        refs["incremental_cc"] = canon(min_label_components(s.src, s.dst), ["id", "component"])
        return Pass(s.dir, s.rows, refs)

    def calls(self, spark, ps: Pass) -> Iterator[Call]:
        from pyspark.sql import functions as F

        from gelly_streaming_spark.operators.graphstream import GraphStream
        from gelly_streaming_spark.streaming import IncrementalConnectedComponents, run_to_memory
        from gelly_streaming_spark.streaming.runner import run_update_merge

        delay = f"{gen.EDGE_STREAM['watermark_s']} seconds"

        def stream():
            return (
                spark.readStream.schema("src long, dst long, val double, ts timestamp")
                .option("maxFilesPerTrigger", 1)
                .parquet(ps.dir)
            )

        def degrees(sp):
            with sp("operators", "degrees_plan"):
                plan = GraphStream(stream()).degrees()
            return run_update_merge(plan, ["id"]).toPandas()

        def slice_append(sp):
            with sp("operators", "slice_plan"):
                plan = (
                    GraphStream(stream())
                    .with_watermark(delay)
                    .slice("1 hour", "out")
                    .reduce_on_edges(
                        F.count(F.lit(1)).alias("cnt"),
                        F.sum(F.col("val").cast("decimal(18,2)")).cast("double").alias("sum_val"),
                    )
                )
            return run_to_memory(plan, "append").toPandas()

        yield Call("streaming", "degrees_update", degrees)
        yield Call("streaming", "slice_append", slice_append)
        yield Call(
            "streaming",
            "incremental_cc",
            lambda sp: IncrementalConnectedComponents().run(stream()).toPandas(),
        )


# ---------------------------------------------------------------------------
# batch_snapshot, part 1: graph analytics
# ---------------------------------------------------------------------------


def _widen(sql: str, cutoff: int) -> str:
    """Registry loop-graph SQL with its order-key cut-off set to ours."""
    out, n = re.subn(r"\b([ol]_orderkey) < \d+", rf"\1 < {cutoff}", sql)
    if n != 2:
        raise ValueError(f"expected two order-key cut-offs in the oracle SQL, found {n}")
    return out


_SLICE_DAY_SQL = """
SELECT date_trunc('day', l_shipdate) AS bucket, 1000000 + l_orderkey AS id,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
       COUNT(*) AS cnt
FROM lineitem GROUP BY 1, 2
"""

_LOOP_EDGES_SQL = """
SELECT o_custkey AS src, 1000000 + o_orderkey AS dst FROM orders WHERE o_orderkey < {k}
UNION ALL
SELECT 1000000 + l_orderkey, 2000000 + l_partkey FROM lineitem WHERE l_orderkey < {k}
"""

_COPART_DAYS_SQL = """
SELECT COUNT(*) AS n FROM (
  SELECT DISTINCT date_trunc('day', a.l_shipdate) AS bucket, a.l_partkey, b.l_partkey
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
"""


class GraphSnapshot:
    """Batch analytics over a freshly written purchase graph."""

    name = "graph_snapshot"
    nominal_pass_s = 7.0

    result_cols = {
        "copart_view": ["n"],
        "slice_day_reduce": ["bucket", "id", "sum_val", "cnt"],
        "connected_components_alternating": ["id", "component"],
        "pagerank": ["id", "pr"],
    }

    def prepare(self, work: str, seed: int, pass_idx: int) -> Pass:
        from gelly_streaming_spark.queries import oracle_sql

        d = os.path.join(work, "graph")
        rows = gen.purchase_graph(d, gen.rng(seed, pass_idx, self.name))
        k = gen.GRAPH["loop_orders"]
        o = oracle_sql()
        con = _duck(d, ["orders", "lineitem"])
        refs = {
            "copart_view": _sql(con, _COPART_DAYS_SQL, ["n"]),
            "slice_day_reduce": _sql(con, _SLICE_DAY_SQL, self.result_cols["slice_day_reduce"]),
            # pagerank's documented output is ROUND(ROUND(r, 9), 6); the
            # registry oracle's single ROUND agrees only at its own scale
            "pagerank": _sql(
                con,
                _widen(o["q56d_pagerank_distributed"], k).replace(
                    "ROUND(r, 6)", "ROUND(ROUND(r, 9), 6)"
                ),
                ["id", "pr"],
            ),
        }
        sub = con.sql(_LOOP_EDGES_SQL.format(k=k)).df()
        con.close()
        cc = min_label_components(sub.src.to_numpy(), sub.dst.to_numpy())
        refs["connected_components_alternating"] = canon(cc, ["id", "component"])
        return Pass(d, rows, refs)

    def calls(self, spark, ps: Pass) -> Iterator[Call]:
        from pyspark.sql import functions as F

        from gelly_streaming_spark.algos import connected_components as cc
        from gelly_streaming_spark.algos import pagerank
        from gelly_streaming_spark.operators.graphstream import GraphStream
        from gelly_streaming_spark.sources import edges as E

        d, k = ps.dir, gen.GRAPH["loop_orders"]
        g: dict = {}

        def load(sp):
            # restages lineitem (one row group, >= 100k rows) and builds
            # the shared day-bucketed co-purchase view its consumers read
            co = E.edges_cust_order(spark, d)
            op = E.edges_order_part(spark, d)
            g["order_part"] = op
            # the registry's loop graph (q15d, q56d) at this workload's cut-off
            g["loop"] = GraphStream(
                co.where(F.col("dst") < E.ORDER_OFFSET + k)
                .select("src", "dst")
                .unionByName(op.where(F.col("src") < E.ORDER_OFFSET + k).select("src", "dst"))
            )
            return pd.DataFrame({"n": [E.copart_canonical(spark, d, "1 day").count()]})

        def alternating(sp):
            st: dict = {}
            out = cc.connected_components_alternating(g["loop"], stats=st, small_input_rows=0)
            pdf = out.toPandas()
            ps.stats["loop_rounds"] = ps.stats.get("loop_rounds", 0) + st["rounds"]
            return pdf

        def pr(sp):
            st: dict = {}
            pdf = pagerank.pagerank(g["loop"], iters=3, small_input_rows=0, stats=st).toPandas()
            if st["fast_path"]:
                raise RuntimeError("pagerank took its fast path despite small_input_rows=0")
            return pdf

        yield Call("sources", "copart_view", load)
        yield Call(
            "operators",
            "slice_day_reduce",
            lambda sp: GraphStream(g["order_part"])
            .slice("1 day", "out")
            .reduce_on_edges(
                F.sum(F.col("val").cast("decimal(18,2)")).cast("double").alias("sum_val"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .toPandas(),
        )
        yield Call("algos", "connected_components_alternating", alternating)
        yield Call("algos", "pagerank", pr)


# ---------------------------------------------------------------------------
# batch_snapshot, part 2: corpus curation
# ---------------------------------------------------------------------------


class CorpusCuration:
    """Training-data curation kernels over a seeded near-duplicate corpus."""

    name = "corpus_curation"
    nominal_pass_s = 4.0

    # call name -> registry query whose parameters and oracle it mirrors
    queries = {
        "curate_corpus": "q42_curate_corpus",
        "duplicate_passages": "q38_duplicate_passages",
        "bpe_encode": "q75_bpe_encode",
    }
    result_cols = {
        "curate_corpus": ["doc_id", "source", "lang", "n_tokens", "quality", "scrub_md5"],
        "duplicate_passages": ["a", "b", "shared"],
        "bpe_encode": ["doc_id", "pos", "sym"],
    }

    def prepare(self, work: str, seed: int, pass_idx: int) -> Pass:
        from gelly_streaming_spark.queries import oracle_sql

        d = os.path.join(work, "corpus")
        rows = gen.corpus(d, gen.rng(seed, pass_idx, self.name))
        o = oracle_sql()
        con = _duck(d, ["documents"])
        refs = {c: _sql(con, o[q], self.result_cols[c]) for c, q in self.queries.items()}
        con.close()
        return Pass(d, rows, refs)

    def calls(self, spark, ps: Pass) -> Iterator[Call]:
        from pyspark.sql import functions as F

        from gelly_streaming_spark import ext
        from gelly_streaming_spark.ext.text import token_count
        from gelly_streaming_spark.queries import _Q75_RULES, _SHINGLE_N
        from gelly_streaming_spark.sources.tables import load_table

        def docs():
            return load_table(spark, ps.dir, "documents")

        def curate(sp):
            # the registry's q42 corpus: eval set held out and used as the
            # blocklist, boilerplate, e-mail addresses and duplicates planted
            d = F.col("doc_id")
            inj = docs().where(d % 97 != 0).select(
                "doc_id",
                "source",
                "lang",
                F.concat(
                    F.col("text"),
                    F.when(d % 17 == 0, F.repeat(F.lit(" lorem ipsum dolor"), 12)).otherwise(
                        F.lit("")
                    ),
                    F.when(
                        d % 7 == 0,
                        F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com")),
                    ).otherwise(F.lit("")),
                ).alias("text"),
            )
            copies = F.when(d % 10 == 3, F.array(F.lit(0), F.lit(1))).otherwise(F.array(F.lit(0)))
            corpus = (
                inj.withColumn("_copy", F.explode(copies))
                .withColumn("doc_id", d + F.col("_copy").cast("long") * 10_000_000)
                .drop("_copy")
            )
            out = ext.curate_corpus(
                corpus,
                docs().where(d % 97 == 0),
                min_quality=0.79,
                max_rep_permille=200,
                n=_SHINGLE_N,
            )
            return out.select(
                "doc_id",
                "source",
                "lang",
                token_count(F.col("text")).cast("long").alias("n_tokens"),
                "quality",
                F.md5("text_scrubbed").alias("scrub_md5"),
            ).toPandas()

        yield Call("ext", "curate_corpus", curate)
        yield Call(
            "ext",
            "duplicate_passages",
            lambda sp: ext.duplicate_passages(
                docs(), n=_SHINGLE_N, min_shared=3, max_df=20
            ).toPandas(),
        )
        yield Call(
            "ext",
            "bpe_encode",
            lambda sp: ext.bpe_encode(docs(), _Q75_RULES)
            .select("doc_id", F.posexplode("toks").alias("pos", "sym"))
            .select("doc_id", F.col("pos").cast("long").alias("pos"), "sym")
            .toPandas(),
        )


# ---------------------------------------------------------------------------
# batch_snapshot
# ---------------------------------------------------------------------------


class BatchSnapshot:
    """Graph analytics, then corpus curation, over fresh snapshot files.

    One workload rather than two: alone, the curation pass (about 4 s on
    4 cores) moved 15-30% between runs with the host, and a run could not
    afford the passes to steady it; its spans still keep the driver-bound
    algorithm loops and the executor-bound ext kernels apart per layer.
    """

    name = "batch_snapshot"
    parts = (GraphSnapshot(), CorpusCuration())
    nominal_pass_s = sum(p.nominal_pass_s for p in parts)
    result_cols = {k: v for p in parts for k, v in p.result_cols.items()}

    def prepare(self, work: str, seed: int, pass_idx: int) -> Pass:
        subs = [p.prepare(work, seed, pass_idx) for p in self.parts]
        ps = Pass(work, sum(s.rows for s in subs), {k: v for s in subs for k, v in s.refs.items()})
        for s in subs:
            s.stats = ps.stats
        ps.parts = subs
        return ps

    def calls(self, spark, ps: Pass) -> Iterator[Call]:
        for part, sub in zip(self.parts, ps.parts):
            yield from part.calls(spark, sub)


WORKLOADS = {w.name: w for w in (EdgeStream(), BatchSnapshot())}
