"""Run lifecycle shared by every workload: host sizing, sessions, set-up
timing, the force-evaluating fold, checks and teardown."""

from __future__ import annotations

import os
import signal
import sys
import time
from dataclasses import dataclass, field

from .tracing import ProcSampler, Tracer, descendants

#: set-ups per run; setup_s is their median
SETUPS = 2

DRIVER_MEMORY = "2g"


def host_cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def configure_env(root: str, work: str) -> None:
    """Everything the engine's processes read from the environment, set
    before the JVM starts: workers find the repository on their path from
    any working directory, scratch space stays inside the checkout, and the
    engine sizes itself to this host."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    if root not in sys.path:
        sys.path.insert(0, root)


def noise_record() -> dict:
    """Load, uptime and the host's cumulative CPU ticks (all, and stolen by
    the hypervisor for other guests)."""
    with open("/proc/uptime") as fh:
        up = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        # user nice system idle iowait irq softirq steal
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return {"load1": os.getloadavg()[0], "uptime_s": up,
            "cpu_ticks": sum(ticks), "steal_ticks": ticks[7]}


@dataclass
class Ops:
    """Operations attempted and failed: query executions, micro-batches and
    output checks. A mismatch is a failure."""
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}" if detail else name)
        return ok


@dataclass
class Run:
    root: str
    work: str
    seed: int
    seconds: int
    traced: bool
    cores: int
    tracer: Tracer
    ops: Ops
    sampler: ProcSampler
    event_dir: str = ""

    def session(self, *, traced: bool = False, quiet: bool = False):
        from solarpos_spark.plans.session import build_session

        # the builder keeps options across sessions: set the event log either way
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.eventLog.enabled": str(traced).lower(),
        }
        if traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = build_session(app_name="perfbench", cores=self.cores,
                              shuffle_partitions=self.cores,
                              extra_conf=conf)
        # quiet: pyspark's cached scalar UDFs report to the accumulator of
        # the session they first ran in; once that session is closed every
        # task logs an error for it
        spark.sparkContext.setLogLevel(
            "FATAL" if quiet else "WARN" if traced else "ERROR")
        return spark

    def fold(self, df) -> tuple[int, int]:
        """Force full evaluation: count() lets Catalyst prune deterministic
        UDF projections, so hash every column and fold the hashes."""
        from pyspark.sql import functions as F

        r = (df.select(F.xxhash64(*df.columns).alias("h"))
             .agg(F.count(F.lit(1)).alias("n"), F.bit_xor("h").alias("x"))
             .collect()[0])
        return int(r["n"]), int(r["x"] or 0)

    def query(self, spark, name: str, build) -> tuple[int, int]:
        """One query execution under its own span and Spark job group."""
        with self.tracer.span(f"query.{name}") as s:
            spark.sparkContext.setJobGroup(f"span-{s.id}", name)
            try:
                return self.fold(build())
            finally:
                spark.sparkContext.setJobGroup("", "")


def stop_jvm() -> None:
    """Stop the py4j gateway and the driver JVM it launched, and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap(pids: set[int], timeout: float = 20.0) -> None:
    """Wait until every process this run started has ended; kill any that
    outlive ``timeout``."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        alive = [p for p in pids | set(descendants(os.getpid()))
                 if _alive(p)]
        if not alive:
            return
        time.sleep(0.2)
    for p in pids | set(descendants(os.getpid())):
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for p in pids:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state != "Z"
