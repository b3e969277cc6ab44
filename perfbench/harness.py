"""Process-level plumbing shared by every workload: the scratch directory
inside the checkout, the Spark session at local[<cores>], the Python
worker warm-up, and a shutdown that waits until the JVM and its Python
workers have exited."""


import os
import shutil
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".bench_work")


def cores() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def make_workdir() -> str:
    """A fresh scratch directory under the checkout. Spark's local dirs,
    the JVM's and Python's temp files, and every table store go here, so a
    run writes nothing outside the checkout."""
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=WORK_ROOT)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    # the program package must import in the Python workers Spark forks
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return work


def remove_workdir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)
    except OSError:
        pass  # another run's directory is still there


def start_session(work: str, *, traced: bool):
    """build_session at local[<cores>] with <cores> shuffle partitions and
    a 2 GiB driver heap (the workloads' data is a few MiB; the program's
    8 GiB default lets the heap grow to most of the box). The traced mode
    raises the status store's retention so that every job, stage and SQL
    execution of a run stays readable after it."""
    from python_web_scraper_cleaner_spark.session import build_session

    n = cores()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # no hsperfdata file under /tmp: the JVM writes only in the checkout
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
    }
    if traced:
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    spark = build_session(app_name="perfbench", master=f"local[{n}]",
                          shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """Start the Python worker pool (one Arrow UDF task per core, 4 waves)
    so the first measured stage does not pay worker fork and import."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _echo(s: pd.Series) -> pd.Series:
        return s

    n = cores() * 4
    (spark.range(n, numPartitions=n).select(_echo("id").alias("x"))
     .groupBy().sum("x").collect())


def jvm_process(spark):
    """The Popen of the JVM that PySpark launched (spark-submit execs the
    JVM, so its pid is the JVM's), or None if PySpark attached to one."""
    return getattr(spark.sparkContext._gateway, "proc", None)


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def stop_session(spark) -> None:
    """spark.stop(), then close the gateway and wait for the JVM (and with
    it the Python daemon and workers) to exit; kill it after 60 s."""
    proc = jvm_process(spark)
    pids = [proc.pid] if proc is not None else []
    if proc is not None:
        pids += _descendants(proc.pid)
    try:
        spark.stop()
    finally:
        gw = spark.sparkContext._gateway
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - TimeoutExpired: force it
                proc.kill()
                proc.wait(timeout=30)
        _wait_gone(pids[1:], timeout_s=30)


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for c in _children(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    """Python workers are the JVM's grandchildren: wait until each pid is
    gone (they exit when the daemon's socket closes), then kill any left."""
    import signal

    deadline = time.time() + timeout_s
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                and not _is_zombie(p)]
        if pids:
            time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
