"""The benchmark's session profile: one local[nproc] JVM fitted to the host,
with every file Spark and its Python workers write kept under the
benchmark's work directory.

``configure_env`` must run before pyspark is imported: the JVM and the
Python workers inherit the environment it sets.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
NPROC = len(os.sched_getaffinity(0))
GC_LOG_DIR = os.path.join(WORK, "gclog")

DRIVER_MEM_MB = 3072  # well below physical RAM; the session default is 48g


def configure_env() -> None:
    shutil.rmtree(GC_LOG_DIR, ignore_errors=True)
    for d in ("spark-local", "tmp", "warehouse", "gclog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    mem_mb = min(DRIVER_MEM_MB, os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (4 << 20))
    py_path = [ROOT, os.path.join(ROOT, "perfbench")] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            # workers import `dedup` (and this module) from any cwd
            "PYTHONPATH": os.pathsep.join(py_path),
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": os.path.join(WORK, "tmp"),
            "SPARK_DRIVER_MEM": f"{mem_mb}m",
            # every JVM started here (the launcher too): temp files under
            # WORK, and no hsperfdata file in the system temp directory
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        }
    )


def config():
    from dedup.config import DedupConfig

    # the CLI's settings: every field at its default, shuffle partitions
    # included, so the timed passes fan out as jobs/run_dedup.py does
    return DedupConfig()


def spark_conf(event_log_dir: str | None = None) -> dict[str, str]:
    conf = {
        # two JIT compiler threads: the default three competed with the
        # task threads on a 4-core host and made pass times swing by 20%.
        # Initial heap = max heap: a growing heap made peak RSS follow G1's
        # resizing decisions, which swung it by ~30% between runs, and the
        # heap is touched at start-up: lazily touched pages put up to 0.4 GB
        # between runs. The heap therefore counts in RSS at its fixed size;
        # what Spark keeps in it is read from the GC log instead
        # (procstat.gc_heap_after).
        "spark.driver.extraJavaOptions": (
            f"-XX:ActiveProcessorCount={NPROC} -XX:CICompilerCount=2"
            f" -Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch"
            f" -Xlog:gc:file={GC_LOG_DIR}/gc-%p.log:timemillis"
        ),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.sql.streaming.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def build(event_log_dir: str | None = None):
    from dedup.session import build_session

    return build_session(
        app_name="perfbench",
        master=f"local[{NPROC}]",
        config=config(),
        extra_conf=spark_conf(event_log_dir),
    )


def _warm_batches(batches):
    import dedup.features  # noqa: F401  (load the engine in every worker)

    yield from batches


def warm_up(spark) -> None:
    """Start a Python worker on every core and load the engine there."""
    spark.range(0, NPROC * 64, 1, NPROC).mapInPandas(_warm_batches, "id long").count()


def stop_all(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and the
    Python workers it forked have exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    from procstat import tree_pids

    deadline = time.monotonic() + 20
    while len(tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
