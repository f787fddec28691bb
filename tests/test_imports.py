"""Spark-free import guards: every package ``__init__`` exports exactly
what it imports, and every engine name that a consumer script imports
still exists. Deleting an engine module or function must fail here
rather than in an example, benchmark or query at run time."""

import ast
import importlib
import importlib.util
import pathlib

import pytest

import gelly_streaming_spark

PKG = pathlib.Path(gelly_streaming_spark.__file__).parent
ROOT = PKG.parent
INITS = sorted(PKG.rglob("__init__.py"))
CONSUMERS = sorted(
    [
        *ROOT.glob("examples/*.py"),
        ROOT / "bench.py",
        *ROOT.glob("perfbench/*.py"),
        PKG / "queries.py",
    ]
)


def _rel(p: pathlib.Path) -> str:
    return p.relative_to(ROOT).as_posix().replace("/", ".")


@pytest.mark.parametrize("init", INITS, ids=_rel)
def test_package_all_matches_imports(init):
    """``from package import *`` exports exactly the names the package
    ``__init__`` re-exports; a package that imports nothing needs no
    ``__all__``."""
    tree = ast.parse(init.read_text())
    imported, exported = set(), set()
    for node in tree.body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            imported |= {a.asname or a.name.split(".")[0] for a in node.names}
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            exported = set(ast.literal_eval(node.value))
    assert exported == imported, (
        f"missing from __all__: {sorted(imported - exported)}, "
        f"not imported: {sorted(exported - imported)}"
    )


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    return hasattr(mod, name) or importlib.util.find_spec(f"{module}.{name}") is not None


@pytest.mark.parametrize("path", CONSUMERS, ids=_rel)
def test_consumer_engine_imports_resolve(path):
    """Every ``from gelly_streaming_spark... import name`` in a consumer
    script resolves, including the lazy imports inside function bodies
    that would otherwise only fail when that function runs."""
    missing = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "gelly_streaming_spark"
        ):
            missing += [
                f"{node.lineno}: {node.module}.{a.name}"
                for a in node.names
                if not _resolves(node.module, a.name)
            ]
        elif isinstance(node, ast.Import):
            missing += [
                f"{node.lineno}: {a.name}"
                for a in node.names
                if a.name.startswith("gelly_streaming_spark")
                and importlib.util.find_spec(a.name) is None
            ]
    assert not missing, missing


# Keyword options that chose a kernel, a join hint or an alternative
# algorithm while no query, example or benchmark set them. Each call now
# has one path, or picks it from what it measures (vocabulary size, edge
# count, largest window, ``isStreaming``). The cadence and block-size
# options at the end are module constants now.
REMOVED_OPTIONS = [
    ("ext.text", "bpe_encode", "impl"),
    ("ext.text", "bpe_encode", "checkpoint_every"),
    ("ext.text", "tfidf_keywords", "broadcast_df"),
    ("ext.text", "classifier_score", "broadcast_weights"),
    ("ext.similarity", "jaccard_pairs", "prefix_filter"),
    ("ext.similarity", "jaccard_pairs", "prefix_order"),
    ("ext.similarity", "jaccard_pairs", "strategy"),
    ("ext.similarity", "jaccard_rep_pairs", "prefix_filter"),
    ("ext.similarity", "jaccard_rep_pairs", "prefix_order"),
    ("ext.similarity", "jaccard_rep_pairs", "strategy"),
    ("ext.dedup", "near_dup_collapse", "method"),
    ("ext.web", "domain_filter", "pin_derived"),
    ("algos.triangles", "triangle_count", "strategy"),
    ("algos.triangles", "triangle_count", "broadcast_limit"),
    ("algos.triangles", "triangle_count_windowed", "strategy"),
    ("algos.triangles", "triangle_count_windowed", "per_window_limit"),
    ("operators.graphstream", "GraphStream.intersect", "assume_distinct"),
    ("operators.graphstream", "GraphStream.difference", "assume_distinct"),
    ("operators.graphstream", "GraphStream.number_of_vertices", "approx"),
    ("streaming.runner", "run_to_memory", "name"),
    ("algos.pagerank", "pagerank", "checkpoint_every"),
    ("algos.connected_components", "connected_components", "check_every"),
    ("streaming.runner", "run_update_merge", "collapse_every"),
    ("ext.embeddings", "semantic_dedup", "rows_per_block"),
    ("ext.embeddings", "_exact_pairs_gemm", "rows_per_block"),
]


def test_removed_plan_selection_options_stay_gone():
    """None of the removed plan-selection options is a parameter again."""
    import inspect

    back = []
    for mod, qual, param in REMOVED_OPTIONS:
        obj = importlib.import_module(f"gelly_streaming_spark.{mod}")
        for part in qual.split("."):
            obj = getattr(obj, part)
        if param in inspect.signature(obj).parameters:
            back.append(f"{mod}.{qual}({param}=)")
    assert not back, back


def test_session_conf_classes_exist_in_spark_sql_jar():
    """Every Spark SQL class a session conf names is in the installed
    ``spark-sql`` jar: a Spark upgrade that moves one (Spark 3's
    checkpoint file managers now sit in a ``checkpointing`` subpackage)
    would otherwise fail every streaming start, not an import."""
    import glob
    import os
    import zipfile

    import pyspark

    from gelly_streaming_spark.session import RUNTIME_CONFS, STREAMING_SCALE_CONFS

    jars = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "spark-sql_*.jar")
    )
    assert len(jars) == 1, jars
    with zipfile.ZipFile(jars[0]) as z:
        present = set(z.namelist())
    named = [
        v
        for v in {**RUNTIME_CONFS, **STREAMING_SCALE_CONFS}.values()
        if v.startswith("org.apache.spark.sql.")
    ]
    assert named
    missing = [v for v in named if v.replace(".", "/") + ".class" not in present]
    assert not missing, missing
