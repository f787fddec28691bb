"""Bounded driver probes, and the one small-input fast-path contract of
the graph loops in ``algos/``.

Several adaptive fast paths take ``limit(N+1)`` and collect: if the
input fits the bound, solve driver-local; else fall back to the
distributed plan (the graph loops, the triangle kernel's broadcast
build side, the Jaccard bitset vocab probe, the PQ query batch).
``bounded_take`` collects as Arrow, which runs the whole limited plan
in ONE job in which every partition stops at n+1 rows — there is no
incremental 1→4→16-partition CollectLimit path (only a Row
``collect()`` takes that one, paying a driver round-trip per round) —
and the driver keeps the first n+1 rows. A small input therefore costs
one job; an input far over the bound costs one full-width job whose
tasks each stop after n+1 rows.

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
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def bounded_take(df: DataFrame, n: int) -> pa.Table:
    """Collect at most ``n + 1`` rows of ``df`` (the ``+1`` is the
    caller's overflow sentinel) as a ``pyarrow.Table``."""
    return df.limit(n + 1).toArrow()


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
    tbl = bounded_take(edges, small_input_rows)
    if tbl.num_rows > small_input_rows:
        return None
    # one Arrow batch -> Python tuples: Row-by-row collect() boxing
    # measured ~1 s for a 191k-edge probe where this is tens of ms
    args = [list(zip(*(c.to_pylist() for c in tbl.columns)))]
    if sources is not None:
        stbl = bounded_take(
            sources.select(sources.columns[0]).distinct(),
            small_input_rows,
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
