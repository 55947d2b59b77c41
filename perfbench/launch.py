"""Spark session for the benchmark, sized from the host it runs on.

``get_spark`` defaults to ``local[32]`` and a 24 GB JVM heap, which do not
fit a small host.  The benchmark derives both from the machine, keeps
every file Spark, the JVM and Python workers write inside the benchmark's
work directory, and puts the repository on the Python workers' path (the
UDF workers otherwise fail with ``ModuleNotFoundError: logpump_spark``).
"""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """A quarter of physical memory, capped at 4 GB: the inputs are tens
    of MB, and the host's memory is shared."""
    try:
        with open("/proc/meminfo", encoding="ascii") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return 2048
    return max(1024, min(4096, kb // 1024 // 4))


def prepare_env(work_dir: str) -> None:
    """Environment the JVM and its Python workers inherit; must run before
    the first session starts."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the short-lived JVM that spark-submit starts to build the Spark JVM's
    # command line writes its perf data and temp files here otherwise
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    path = os.environ.get("PYTHONPATH", "")
    if REPO not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")


def start_session(work_dir: str, cpus: int, trace: bool = False):
    """A session through the engine's own ``get_spark`` with host-derived
    size.  ``trace`` raises the status store's retention so a traced run
    keeps every stage and SQL execution of its window."""
    from logpump_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.driver.memory": f"{heap_mb()}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark
