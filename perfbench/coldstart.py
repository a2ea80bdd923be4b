"""Cold set-up of the measured program: a new JVM through
``session.get_spark``, then the warm-up job that spawns the Python
workers and compiles the parse path.

    python3 -m perfbench.coldstart

run from the repository root, sets up once in a process of its own, then
stops the JVM and prints ``{"start_s", "warmup_s", "cpu_s", "failures"}``
as its last line. ``run.py`` starts it for every set-up but its own.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def pin_environment() -> int:
    """Environment for the driver, the JVM and the Python workers."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ.update({
        "PYTHONPATH": ":".join(dict.fromkeys(paths)),  # workers import rsyslog_spark
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": "2g",
        # every JVM, the launcher's too: temp files in the work directory,
        # and no hsperfdata file in /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cores


def new_session(cores: int):
    from rsyslog_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup_once(cores: int, warm) -> tuple[object, dict]:
    """get_spark in a process that has no JVM yet, plus the warm-up job:
    (spark, {start_s, warmup_s, cpu_s, failures}). ``cpu_s`` is the CPU
    time of the process tree (this process, the JVM, the Python workers)
    over both."""
    from pyspark.sql import functions as F

    from perfbench.meter import tree_usage
    from rsyslog_spark.parse import with_parsed

    c0, t0 = tree_usage()[1], time.perf_counter()
    spark = new_session(cores)
    t1 = time.perf_counter()
    parsed = with_parsed(spark.read.parquet(warm.path), require_header=True)
    bad = parsed.agg(F.sum((~F.col("parse_success")).cast("int"))).first()[0]
    t2, c2 = time.perf_counter(), tree_usage()[1]
    fail = [] if bad == warm.expected["parse_errors"] else [
        f"warmup_parse_errors: got {bad} expected {warm.expected['parse_errors']}"]
    return spark, {"start_s": t1 - t0, "warmup_s": t2 - t1, "cpu_s": c2 - c0,
                   "failures": fail}


def main() -> int:
    cores = pin_environment()
    from perfbench import inputs
    from perfbench.meter import end_descendants

    spark, result = setup_once(cores, inputs.warmup(os.path.join(WORK, "cache")))
    spark.stop()
    end_descendants()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
