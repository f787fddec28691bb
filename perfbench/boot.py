"""Session start-up.

Everything the JVM, Spark and the engine write goes under the work
directory inside the checkout.
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)  # checkout root, where the package lives
WORK = os.path.join(ROOT, ".perfbench")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def master() -> str:
    return f"local[{cores()}]"


def confs(workload: str, traced: bool) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    out = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(WORK, "checkpoints"),
    }
    if workload == "edge_stream":
        # state-store partitions are fixed at query start from this conf;
        # a deployment sizes it to its cores (the engine default is 32)
        out["spark.sql.shuffle.partitions"] = str(cores())
    if traced:
        out.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000",
                "spark.sql.ui.retainedExecutions": "50",
            }
        )
    return out


def prepare_env() -> None:
    for d in ("tmp", "spark-local", "warehouse", "checkpoints"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["GSS_TMPDIR"] = os.path.join(WORK, "tmp")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(workload: str, traced: bool):
    """Engine import plus ``get_spark``: returns (spark, seconds)."""
    t0 = time.perf_counter()
    from gelly_streaming_spark.session import get_spark

    spark = get_spark("perfbench", master(), confs(workload, traced))
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway exits on EOF
            proc.wait(timeout=60)
