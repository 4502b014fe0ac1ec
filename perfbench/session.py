"""One timed Spark session set-up, and its teardown.

    python3 perfbench/session.py '{"cores": 4, "conf": {...}}'

Run as a script, it sets up one session in a fresh interpreter (the
package and every module it imports, a new JVM, the registry), prints
its times as one JSON line, stops the JVM and exits. ``cold`` runs it
so that each repeated set-up of a benchmark run pays what the first
one pays.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import proctree


def set_up(cores: int, conf: dict[str, str]):
    """A ``local[<cores>]`` session and the registry; returns (spark,
    queries, oracles, times). ``start`` is the import of the session
    module and ``get_spark``, ``registry`` the import of the queries
    package and ``load_registry()``."""
    t0 = time.perf_counter()
    from cpx_etl_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from cpx_etl_spark.queries import load_registry

    queries, oracles = load_registry()
    t2 = time.perf_counter()
    return spark, queries, oracles, {"start": t1 - t0, "registry": t2 - t1, "total": t2 - t0}


def stop(spark) -> None:
    """Stop the context and the JVM, and wait for every process this
    process started to end."""
    try:
        if spark is not None:
            spark.stop()
    finally:
        _stop_jvm()


def _stop_jvm() -> None:
    """Shut the py4j gateway and its JVM down, then reap whatever is
    left in this process's tree."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
    deadline = time.time() + 30
    while len(proctree.tree()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in proctree.tree()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def cold(cores: int, conf: dict[str, str], tmp: str) -> dict[str, float]:
    """Times of one set-up in a fresh interpreter with ``TMPDIR`` at
    ``tmp``. The child and its JVM run in their own process group,
    which is killed if the child does not end in time."""
    os.makedirs(tmp)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), json.dumps({"cores": cores, "conf": conf})],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        env={**os.environ, "TMPDIR": tmp}, start_new_session=True)
    try:
        out, err = child.communicate(timeout=120)
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
    if child.returncode != 0:
        raise RuntimeError(f"set-up child exited {child.returncode}: {err[-2000:]}")
    return json.loads(out.splitlines()[-1])


if __name__ == "__main__":
    args = json.loads(sys.argv[1])
    spark = None
    try:
        spark, _, _, times = set_up(args["cores"], args["conf"])
    finally:
        stop(spark)
    print(json.dumps(times))
