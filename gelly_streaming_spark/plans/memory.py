"""Explicit lifecycle for lineage-cut checkpoints and session state.

The iterative algorithms (Pregel-style CC, parity propagation, streaming
refinement) call ``localCheckpoint()`` every round to stop plan growth.
Spark pins each checkpoint's RDD in storage memory, and
``DataFrame.unpersist()`` does NOT release it (it only clears
cache-manager entries; a checkpoint scan is a ``LogicalRDD``, not a
cached query). Without explicit release, every round leaks a block until
the JVM's periodic GC lets the ContextCleaner find it — default every 30
minutes, far too slow when a 100 TB job checkpoints per iteration.

``free_checkpoint`` walks the analyzed plan and unpersists the RDD behind
every ``LogicalRDD`` scan it finds (verified: the entry leaves
``SparkContext.getPersistentRDDs`` immediately).

``session_memo`` is the one registry of the engine's session-lifetime
state (the persist ledger, materialized edge views, triangle builds,
staged dirs, table, plan and index memos). It lives on the SparkContext,
so every session on the context — ``foreachBatch`` batches included —
shares it. Each memo registers how to release one entry, so
``release_persisted`` drains every memo without naming any.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame


_SESSION_TMPDIRS: set[str] = set()


def session_tmpdir(prefix: str) -> str:
    """``mkdtemp`` for a session-lifetime staging dir (replay chunks,
    restaged tables, streaming checkpoints, bench warm-up), removed at
    interpreter exit even when ``release_persisted`` is never called
    (pytest sessions, ad-hoc shells) — no orphan ``gss_*`` dirs left
    behind. The dir lives under ``GSS_TMPDIR`` when set (created if
    missing, ignored with a warning if uncreatable/unwritable — a typo'd
    override must not crash a run at the first mkdtemp, ADVICE r9), else
    under tempfile's default (/tmp)."""
    base = os.environ.get("GSS_TMPDIR") or None
    if base is not None:
        try:
            os.makedirs(base, exist_ok=True)
            writable = os.access(base, os.W_OK)
        except OSError:
            writable = False
        if not writable:
            import warnings

            warnings.warn(
                f"GSS_TMPDIR={base!r} is not a writable directory; "
                "falling back to the default temp directory",
                stacklevel=2,
            )
            base = None
    d = tempfile.mkdtemp(prefix=prefix, dir=base)
    _SESSION_TMPDIRS.add(d)
    return d


@atexit.register
def purge_session_tmpdirs() -> None:
    """Remove every live session_tmpdir-created dir NOW. Runs at exit;
    call it directly on exit paths that bypass atexit — bench.py's
    SIGTERM handler must ``os._exit`` (a normal shutdown can hang in the
    JVM teardown), which skips the registered cleanups."""
    while _SESSION_TMPDIRS:
        shutil.rmtree(_SESSION_TMPDIRS.pop(), ignore_errors=True)


def remove_dir(d: str | None) -> None:
    """Release action for memos of staged dirs: delete ``d`` (None is
    the "nothing staged" entry) and stop tracking it for exit."""
    if d is not None:
        shutil.rmtree(d, ignore_errors=True)
        _SESSION_TMPDIRS.discard(d)


def _collect_logical_rdds(plan, out: list) -> None:
    if plan.getClass().getSimpleName() == "LogicalRDD":
        out.append(plan)
        return
    children = plan.children()
    for i in range(children.length()):
        _collect_logical_rdds(children.apply(i), out)


def session_memo(spark, name: str, release: Callable | None = None) -> dict:
    """The engine's session-lifetime memo ``name``: one dict per
    SparkContext, shared by every session on it (``newSession()`` and
    each ``foreachBatch`` batch's session included) — the scope at which
    Spark keeps the cached plans, persisted blocks and broadcasts the
    memos pin. ``release(entry)`` is how ``release_persisted`` frees one
    entry before it empties the dict (default: just drop it); it may
    return the number of frames it unpersisted."""
    reg = vars(spark.sparkContext).setdefault("_gss_memos", {})
    entry = reg.setdefault(name, [{}, None])  # atomic: threads share it
    if release is not None:
        entry[1] = release
    return entry[0]


def unpersist(df: DataFrame) -> int:
    """Release action for memos of persisted frames; 1 if freed."""
    try:
        df.unpersist()
        return 1
    except Exception:
        return 0


def track_persist(df: DataFrame) -> DataFrame:
    """``persist()`` plus registration in a ledger kept per
    SparkContext — shared by every session and every ``foreachBatch``
    batch on it — so a long-lived multi-tenant session can bulk-release
    every cache the engine created (``release_persisted``), including
    those made inside a streaming batch. The blocks are evictable
    MEMORY_AND_DISK either way — the ledger turns "pressure-safe but
    accumulating" into an explicit lifecycle."""
    df.persist()
    session_memo(df.sparkSession, "persisted", unpersist)[id(df)] = df
    return df


def release_persisted(spark) -> int:
    """Release every ``session_memo`` entry of ``spark``'s SparkContext
    with its memo's release action — unpersisting ledger and edge-view
    frames, destroying kernel broadcasts, deleting staged dirs — and
    empty every memo, returning the session to a cold state. Returns
    frames unpersisted. Safe to call mid-session: persisted frames
    recompute from lineage and memos rebuild on next use — unlike
    checkpoints, nothing is lost, only re-derived."""
    freed = 0
    # snapshots: another thread may add a memo or an entry meanwhile
    memos = list(vars(spark.sparkContext).get("_gss_memos", {}).values())
    for memo, release in memos:
        if release is not None:
            for entry in list(memo.values()):
                freed += release(entry) or 0
        memo.clear()
    return freed


def free_checkpoint(df: DataFrame) -> int:
    """Release the storage blocks behind every ``localCheckpoint()`` scan
    in ``df``'s plan. Returns the number of checkpoint RDDs freed.

    Only call once every consumer of those checkpoints has been
    materialized — the lineage is gone, so reading them afterwards fails
    rather than recomputes. Never call it on a DataFrame whose checkpoint
    is shared with a plan that still needs to run.
    """
    freed = 0
    try:
        nodes: list = []
        _collect_logical_rdds(df._jdf.queryExecution().analyzed(), nodes)  # noqa: SLF001
        for node in nodes:
            node.rdd().unpersist(False)
            freed += 1
    except Exception:
        pass
    return freed
