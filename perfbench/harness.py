"""Run isolation, the Spark session, and host facts for one run.

Each run gets its own directory under ``<checkout>/.perfbench_runs``:
warehouse, event log, Spark local dirs and temp files all live there,
and the directory is removed when the run ends. The library is
imported from the checkout that holds this benchmark, and nowhere
else; Python workers get the same path through ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import resource
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parents[1]
RUNS_DIR = CHECKOUT / ".perfbench_runs"
DRIVER_MEMORY = "1g"


class CheckoutError(RuntimeError):
    """The library under test is missing or not the checkout's own."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_head() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(CHECKOUT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class RunDirs:
    """Fresh per-run directories; ``close()`` removes them."""

    def __init__(self, tag: str):
        self.root = RUNS_DIR / f"{tag}-{os.getpid()}"
        shutil.rmtree(self.root, ignore_errors=True)
        self.warehouse = self.root / "warehouse"
        self.eventlog = self.root / "eventlog"
        self.local = self.root / "local"
        self.tmp = self.root / "tmp"
        self.data = self.root / "data"
        for d in (self.warehouse, self.eventlog, self.local, self.tmp, self.data):
            d.mkdir(parents=True)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            RUNS_DIR.rmdir()  # only when no other run is using it
        except OSError:
            pass


def prepare_env(dirs: RunDirs) -> None:
    """Point temp files, Python workers and the engine's defaults at
    this run. Must run before pyspark starts the JVM."""
    os.environ["TMPDIR"] = str(dirs.tmp)
    tempfile.tempdir = str(dirs.tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(CHECKOUT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PANDABASE_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PANDABASE_WAREHOUSE"] = str(dirs.warehouse)
    if str(CHECKOUT) not in sys.path:
        sys.path.insert(0, str(CHECKOUT))


def import_library():
    """Import ``pandabase_spark`` and prove it is the checkout's copy."""
    try:
        import pandabase_spark
    except ImportError as e:
        raise CheckoutError(f"pandabase_spark is not importable from {CHECKOUT}: {e}") from e
    where = Path(pandabase_spark.__file__).resolve()
    if CHECKOUT not in where.parents:
        raise CheckoutError(f"pandabase_spark was imported from {where}, outside {CHECKOUT}")
    return pandabase_spark


def start_session(dirs: RunDirs, trace: bool):
    """The engine's own session (``get_spark``) at ``local[nproc]``,
    with every path inside the run directory. The event log is on
    only when tracing, so its cost stays out of the untraced run."""
    from pandabase_spark.session import get_spark

    conf = {
        "spark.local.dir": str(dirs.local),
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*;
        # -Xms at the -Xmx of spark.driver.memory: a heap that does not
        # resize keeps peak RSS and GC pauses from varying run to run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.dir": str(dirs.eventlog),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def event_log_file(dirs: RunDirs) -> str:
    files = [p for p in dirs.eventlog.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event-log file, found {len(files)}")
    return str(files[0])


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every live process."""
    out = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        comm_end = stat.rfind(")")
        fields = stat[comm_end + 2:].split()
        if fields[0] != "Z":
            out[int(d.name)] = (int(fields[1]), stat[stat.find("(") + 1: comm_end])
    return out


def _jvm_pids() -> list[int]:
    """Java processes started by this one (pyspark execs the JVM)."""
    me = os.getpid()
    return [pid for pid, (ppid, comm) in _processes().items() if ppid == me and comm == "java"]


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until it and every process it
    started (Python workers) have exited, so the next run starts on an
    idle host."""
    procs = _processes()
    mine, frontier = set(), {os.getpid()}
    while frontier:  # every descendant of this process
        frontier = {p for p, (pp, _) in procs.items() if pp in frontier} - mine
        mine |= frontier
    jvms = _jvm_pids()
    spark.stop()
    for pid in jvms:
        os.kill(pid, signal.SIGTERM)  # the JVM's shutdown hooks still run
    for pid in jvms:
        os.waitpid(pid, 0)
    deadline = time.monotonic() + timeout
    while mine & set(_processes()) and time.monotonic() < deadline:
        time.sleep(0.05)


def peak_rss_mb() -> float:
    """Driver Python ``ru_maxrss`` plus the JVM's ``VmHWM``."""
    total_kb = float(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
    for pid in _jvm_pids():
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += float(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def host_facts() -> dict:
    return {"nproc": nproc(), "loadavg": list(os.getloadavg()), "time": time.time()}
