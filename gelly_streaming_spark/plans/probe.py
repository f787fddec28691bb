"""Bounded driver probes with a size-adapted execution shape, and the one
small-input fast-path contract of the graph loops in ``algos/``.

Several adaptive fast paths take ``limit(N+1)`` and collect: if the
input fits the bound, solve driver-local; else fall back to the
distributed plan (the graph loops, the triangle kernel's broadcast
build side, the Jaccard bitset vocab probe). Spark executes
CollectLimit INCREMENTALLY — 1 partition first, then
``spark.sql.limit.scaleUpFactor``× more per round — which is exactly
right when the bound overflows early on a big input (one task, bail
out), but makes a small input pay a sequential driver round-trip PER
ROUND: measured 3–4 jobs to drain a 13-row fixture union, ~1 s of pure
scheduling at the bench's per-job floor.

``bounded_take`` picks the shape from Catalyst's optimized-plan size
estimate — the same stats-driven decision AQE makes for join strategy:

- small estimate → run every partition in ONE job
  (``spark.sql.limit.initialNumPartitions`` = max): the probe expects
  to take the whole input anyway;
- large or unknown estimate → keep the incremental default: a 100 TB
  input must never get a full-width job for a probe its first partition
  already satisfies.

``driver_fast_path`` is the contract every graph loop in ``algos/``
(CC, bipartiteness' parity closure, BFS, LPA, k-core, HITS, PageRank)
shares: a multi-round distributed loop on a snapshot of at most
``small_input_rows`` edges is all job-floor overhead (measured 4-7x
slower than the driver-local solve on the ~1k-vertex registry snapshots,
see the BFS, k-core and HITS kernels), so the input
is collected once under that bound and solved by the algorithm's own
driver kernel. ``small_input_rows <= 0`` skips the probe and forces the
distributed loop (tests and the benchmark do). An input that spills
over the bound has cost one bounded transfer, and the caller runs the
distributed loop. The returned frame has the distributed loop's schema:
id columns take the type and nullability of the vertex set that loop
builds, so the two paths are interchangeable row for row.
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Inputs estimated under this are drained in one job. Matches the order
# of a broadcast-join build side: comfortably driver-collectable.
_ONE_PASS_BYTES = 64 << 20
_CONF = "spark.sql.limit.initialNumPartitions"


def _estimated_bytes(df: DataFrame) -> int:
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()  # noqa: SLF001
        )
    except Exception:
        return 1 << 62  # unknown — treat as large, keep incremental


def bounded_take(df: DataFrame, n: int, as_arrow: bool = False):
    """Collect at most ``n + 1`` rows of ``df`` (the ``+1`` is the
    caller's overflow sentinel) as a list of Rows, or a
    ``pyarrow.Table`` with ``as_arrow=True``."""
    spark = df.sparkSession
    limited = df.limit(n + 1)
    one_pass = _estimated_bytes(df) <= _ONE_PASS_BYTES
    old = spark.conf.get(_CONF, None) if one_pass else None
    if one_pass:
        spark.conf.set(_CONF, str(1 << 30))
    try:
        return limited.toArrow() if as_arrow else limited.collect()
    finally:
        if one_pass:
            if old is None:
                spark.conf.unset(_CONF)
            else:
                spark.conf.set(_CONF, old)


def driver_fast_path(
    edges: DataFrame,
    small_input_rows: int,
    out: Sequence[str | StructField],
    kernel: Callable[..., Iterable[tuple]],
    ids: DataFrame | None = None,
    sources: DataFrame | None = None,
) -> DataFrame | None:
    """Solve ``edges`` on the driver when it has at most
    ``small_input_rows`` rows; None when the caller must run its
    distributed loop (forced, or the input spilled over the bound).

    ``kernel(edge_rows)`` — or ``kernel(edge_rows, source_ids)`` when
    ``sources`` is given — receives the collected rows as tuples in
    ``edges``' column order (possibly none) and yields output row
    tuples. ``sources``' first column is collected distinct under the
    same bound. ``out`` lists the output columns: a name is an id column
    and takes the type and nullability of ``ids``' single column
    (default: the coerced union of ``edges``' ``src`` and ``dst``, the
    vertex set of every loop that builds one); a ``StructField`` is
    fixed."""
    if small_input_rows <= 0:
        return None
    tbl = bounded_take(edges, small_input_rows, as_arrow=True)
    if tbl.num_rows > small_input_rows:
        return None
    # one Arrow batch -> Python tuples: Row-by-row collect() boxing
    # measured ~1 s for a 191k-edge probe where this is tens of ms
    args = [list(zip(*(c.to_pylist() for c in tbl.columns)))]
    if sources is not None:
        stbl = bounded_take(
            sources.select(sources.columns[0]).distinct(),
            small_input_rows,
            as_arrow=True,
        )
        if stbl.num_rows > small_input_rows:
            return None
        args.append(stbl.column(0).to_pylist())
    if ids is None:
        ids = edges.select(F.col("src").alias("id")).unionByName(
            edges.select(F.col("dst").alias("id"))
        )
    idf = ids.schema.fields[0]
    schema = StructType(
        [
            StructField(f, idf.dataType, idf.nullable) if isinstance(f, str) else f
            for f in out
        ]
    )
    # an explicit schema also types the empty case, where pandas has no
    # values to infer column types from
    pdf = pd.DataFrame(list(kernel(*args)), columns=schema.names)
    return edges.sparkSession.createDataFrame(pdf, schema)
