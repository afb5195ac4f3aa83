"""Process plumbing: a SparkSession that keeps every file inside the
checkout, a resident-memory sampler over the session's processes, and a
shutdown that waits for each of them to end."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import tempfile
import threading
import time

# get_spark's 16g default can exceed the host's memory; 3g holds these inputs
DRIVER_MEMORY = "3g"


def prepare_env(root: str, work: str, trace: bool) -> None:
    """Point every scratch location of Python, the JVM and Spark at ``work``
    and export the checkout on PYTHONPATH, so Python workers can import
    ``fusion_spark`` (the packed build runs pandas UDFs there)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # spark-submit's launcher JVM: no hsperfdata or temp file outside work
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    os.environ.pop("SPARK_MASTER", None)
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(work, "eventlog")
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)


def start_spark(work: str, cores: int):
    from fusion_spark.session import get_spark

    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory of this process's descendants (the
    driver JVM and its Python workers) and keeps the peak."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in descendants())
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, then wait until every process
    this run started has ended (killing any that outlive a grace period)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when this pipe closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 20
        while descendants() and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in descendants():
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        while descendants() and time.monotonic() < deadline + 10:
            time.sleep(0.2)
            _reap()


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
