"""Session start-up as a user pays it: imports, ``get_spark`` and a
first trivial job, each timed from the start of the process."""

from __future__ import annotations

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = len(os.sched_getaffinity(0))  # what `nproc` reports
# The driver heap has a fixed size, set through get_spark's own
# SPARK_DRIVER_MEMORY knob. With get_spark's 16g default, G1 grew the
# heap by different amounts in every run (peak RSS from 2.8 to 4.7 GiB
# for the same workload), so memory figures said more about the
# collector's sizing than about the run. The heap is not pre-touched:
# its pages become resident only as the collector uses them, so a run
# that needs more heap shows a higher peak RSS.
DRIVER_MEMORY = "1536m"
# The young generation is capped. Left to itself, G1 grew eden to about
# 1.1 GiB within the first 30 s, and until the first collection of that
# eden every allocation touched fresh pages: stream micro-batches took
# about 15% longer before that collection than after it, and when it
# fell inside the measured phase differed from run to run. A 512 MiB
# young generation is touched in full during the warm-up, and peak RSS
# then follows the live data in the old generation, not eden's sizing.
# (At 256 MiB the corpus promoted short-lived data early and its peak
# RSS varied several times as much from run to run.)
YOUNG_GEN = "512m"
# The driver JVM compiles with C1 only. With the default tiered JIT, C2
# keeps compiling Spark's planner for the whole of a run this short,
# competing with the task threads on a 4-core host: job times kept
# falling for 30 s and more, runs differed by up to 40%, and set-up took
# twice as long. C1 code reaches its steady speed within the warm-up.
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} -XX:TieredStopAtLevel=1"


def spark_env(work_dir: str) -> None:
    """Keep Spark's scratch files and memory use inside the work dir and
    the host; must run before the JVM starts."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher's too: temp files in the work dir, and no
    # hsperfdata files (the JVM writes those under /tmp regardless)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '{JVM_OPTIONS}' pyspark-shell"


def start_session(process_start: float):
    """Returns (spark, timings): the three set-up phases and the whole
    set-up in seconds, and under ``marks`` the wall-clock times that
    bound them (process start, imports begin, imported, session up,
    first job done)."""
    t0 = time.time()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from new_kafka_consumer_to_hadoop_hdfs_spark.session import get_spark

    t1 = time.time()
    spark = get_spark(app_name="perfbench", cpus=CPUS, shuffle_partitions=CPUS)
    t2 = time.time()
    spark.range(1000).selectExpr("sum(id)").collect()
    t3 = time.time()
    return spark, {
        "session.import_s": t1 - t0,
        "session.get_spark_s": t2 - t1,
        "session.first_job_s": t3 - t2,
        "setup_s": t3 - process_start,
        "marks": [process_start, t0, t1, t2, t3],
    }


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM and the JVM's children (the
    Python worker daemon and workers) to exit."""
    from pyspark import SparkContext

    from tracing import tree_pids, wait_gone

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    workers = tree_pids(proc.pid)[1:] if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(workers, timeout=10)

