"""Crawl-frontier benchmark.

    python3 perfbench/run.py --workload crawl_waves --seed 1 --seconds 10 --trace 0

Run from the repository root. One Spark session at ``local[nproc]`` is
started, the workload's code paths are warmed up on other inputs, and
whole rounds of the workload are timed until ``--seconds`` have passed
(at least one round). Every output is then checked against a computation
made apart from the engine. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics (see
README.md). ``--perturb`` alters one output before its check, to show
that the check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("crawl_waves", "query_mix")
PERTURB = ("wave", "seen", "report", "leg")


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--perturb", choices=PERTURB, default=None)
    return p.parse_args()


def _process_start() -> float:
    """Epoch seconds at which this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _import_program() -> None:
    """Fail fast, before any session, when the program is not beside us."""
    sys.path.insert(0, ROOT)
    for need in ("amazonwebcrawler_spark", "__spark_entry__.py", "tests/oracle.py",
                 "scripts/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise ImportError(f"program file missing: {need}")
    import amazonwebcrawler_spark  # noqa: F401
    import pyspark  # noqa: F401


def _start_session(tmp: str):
    """``local[nproc]`` with the session factory's defaults; spill, shuffle
    and temp files go under ``tmp``."""
    from amazonwebcrawler_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, nproc


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and so its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort at exit
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    args = _parse()
    t_proc = _process_start()
    try:
        _import_program()
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    for sub in ("local", "java", "py"):
        os.makedirs(os.path.join(tmp, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    # the factory's 8g default heap is sized for a dedicated host
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    tempfile.tempdir = None  # re-read TMPDIR

    from measure import measure  # noqa: E402 - after the environment is set

    spark = None
    try:
        t0 = time.perf_counter()
        spark, nproc = _start_session(tmp)
        session_s = time.perf_counter() - t0
        result = measure(spark, args, tmp, t_proc, session_s, nproc)
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, BENCH_DIR)
    raise SystemExit(main())
