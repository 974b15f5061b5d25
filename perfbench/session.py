"""The benchmark's Spark session: started with `cpus=nproc` and the
benchmark's own bookkeeping settings, stopped with every process it started."""

from __future__ import annotations

import os
import signal
import subprocess
import time

from perfbench.procs import descendants


def start(tmp_dir: str):
    from grenad_spark.session import get_spark

    return get_spark(
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            # keep every job and stage of a run for the traced run's read-back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temp files in the checkout; -XX:-UsePerfData
            # stops it writing /tmp/hsperfdata_<user>
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        },
    )


def stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    process this one started has exited."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    alive = pids
    while alive and time.time() < deadline:
        time.sleep(0.2)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
