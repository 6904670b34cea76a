"""Process-level plumbing shared by every workload: the pinned session
settings, the checkout-local state directory, timing/statistics helpers,
resource readings and the result line."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# everything the benchmark writes (input cache, run dirs, Spark scratch,
# event logs, temp files) lives here, inside the checkout
STATE = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(STATE, "cache")
TMP = os.path.join(STATE, "tmp")
SPARK_LOCAL = os.path.join(STATE, "spark-local")

DRIVER_MEMORY = "2g"
# stop starting operations past this many seconds of a run, so the run
# (checks and shutdown included) ends well inside three minutes
DEADLINE_S = 110.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


def engine_present() -> bool:
    return os.path.isfile(os.path.join(
        ROOT, "map_the_net_crawler_spark", "plans", "iteration.py"))


def pin_env() -> dict:
    """Pin every setting that changes what a run measures, before
    pyspark is imported.  Returns the settings for the info line."""
    for d in (CACHE, TMP, SPARK_LOCAL):
        os.makedirs(d, exist_ok=True)
    n = cores()
    old_pp = os.environ.get("PYTHONPATH")
    env = {
        "TMPDIR": TMP,
        "SPARK_LOCAL_DIRS": SPARK_LOCAL,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # pandas-UDF workers import the engine package from the checkout
        "PYTHONPATH": ROOT + (os.pathsep + old_pp if old_pp else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(n),
    }
    os.environ.update(env)
    # engine overrides that would silently change the measured plans
    for k in ("SPARK_MASTER", "MTN_TRACE", "MTN_AUTO_BROADCAST"):
        os.environ.pop(k, None)
    import tempfile
    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {"master": f"local[{n}]", "shuffle_partitions": n, **env}


def start_spark(event_log_dir: str | None = None):
    """One session per run at local[cores], shuffle partitions = cores.
    The event log is on only when ``event_log_dir`` is given (traced
    runs)."""
    from map_the_net_crawler_spark.session import get_spark
    n = cores()
    conf = {
        "spark.local.dir": SPARK_LOCAL,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _gateway_proc():
    from pyspark import SparkContext
    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    proc = _gateway_proc()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Py4JError:
            pass   # the JVM side is already gone
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _vmhwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak RSS of the driver JVM plus this Python process (VmHWM)."""
    proc = _gateway_proc()
    kb = _vmhwm_kb("self") + (_vmhwm_kb(proc.pid) if proc is not None else 0)
    return kb / 1024.0


_CLK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid) -> tuple[int, float] | None:
    """(parent pid, utime+stime+cutime+cstime in seconds)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(rest[1]), sum(int(x) for x in rest[11:15]) / _CLK


def cpu_s() -> float:
    """CPU seconds used so far by this process, the driver JVM and the
    JVM's descendants (the pandas-UDF Python workers); exited, reaped
    children are included through their parent's child times."""
    root = _gateway_proc()
    total = _proc_stat("self")[1]
    if root is None:
        return total
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _proc_stat(d)
            if st is not None:
                stats[int(d)] = st
    keep = {root.pid}
    changed = True
    while changed:
        changed = False
        for pid, (ppid, _c) in stats.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                changed = True
    return total + sum(stats[p][1] for p in keep if p in stats)


def loadavg() -> str:
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return ""


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            try:
                total += os.path.getsize(os.path.join(dp, fn))
            except OSError:
                pass
    return total


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Clock:
    """Measured wall time: wall minus intervals excluded from set-up
    (input generation)."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.excluded = 0.0

    def since_start(self) -> float:
        return time.time() - self.t0 - self.excluded


def emit(correct: bool, attempted: int, failed: int, metrics: dict,
         info: dict) -> None:
    """Human-readable table and an info line on stdout, then the result
    line last."""
    for name, m in metrics.items():
        print(f"  {name:<36} {m['value']:>16.6g} {m['unit']}")
    print("info " + json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}),
          flush=True)
