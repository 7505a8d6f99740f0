"""Process environment for a run: CPU pinning, where Spark and Python may
write, the driver JVM's pid, peak resident memory of the JVM and its Python
workers, and clean shutdown of everything the run started."""

from __future__ import annotations

import os
import signal
import time

SPARK_DEFAULTS = """\
spark.ui.showConsoleProgress false
spark.local.dir {work}/spark-local
spark.sql.warehouse.dir {work}/warehouse
spark.driver.extraJavaOptions -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp
"""

LOG4J2 = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n%ex
"""


def pin_cpus() -> int:
    """Pin this process -- and so the JVM and Python workers it starts --
    to the CPUs it may run on; returns their number (nproc)."""
    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cpus)
    return len(cpus)


def configure(work: str, repo: str, nproc: int) -> None:
    """Environment read when the JVM starts: local[nproc] and every
    scratch path (Spark local dirs, java.io.tmpdir, Python tempfiles,
    warehouse) inside `work`.  The driver heap keeps the program's own
    setting (``session.get_spark``: spark.driver.memory) and grows as the
    program needs it."""
    import sys

    conf = os.path.join(work, "conf")
    for d in (conf, os.path.join(work, "tmp"), os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write(SPARK_DEFAULTS.format(work=work))
    with open(os.path.join(conf, "log4j2.properties"), "w") as fh:
        fh.write(LOG4J2)
    os.environ.update(
        {
            "SPARK_CONF_DIR": conf,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_CPUS": str(nproc),
            "TMPDIR": os.path.join(work, "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(p for p in (repo, os.environ.get("PYTHONPATH", "")) if p),
            # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        }
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(x) for x in fh.read().split()]
    except OSError:
        pass
    return out


def tree(pid: int) -> list[int]:
    """pid and all its live descendants (Python daemon and workers)."""
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory (VmHWM) of the JVM and its Python workers since
    construction.  ``sample`` records each live process's peak, so workers
    that exit before the end (job.main stops its session, and the Python
    daemon with it) still count."""

    def __init__(self, root: int):
        self.root = root
        self.by_pid: dict[int, float] = {}
        for p in tree(root):  # restart peak accounting
            try:
                with open(f"/proc/{p}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass

    def sample(self) -> None:
        for p in tree(self.root):
            self.by_pid[p] = max(self.by_pid.get(p, 0.0), _hwm_kb(p) / 1024.0)

    def total_mb(self) -> float:
        """Sum of the per-process peaks (MB); samples once more first."""
        self.sample()
        return sum(self.by_pid.values())


def shutdown(timeout: float = 60.0) -> None:
    """Stop the SparkContext, close the Py4J gateway and wait until the
    JVM and every process under it have exited."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    pids = tree(proc.pid) if proc is not None else []
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=timeout)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    for p in pids:
        while os.path.exists(f"/proc/{p}") and _state(p) != "Z" and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}") and _state(p) != "Z":
            os.kill(p, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"
