"""The session factory's JVM flags: every JVM the engine starts runs
HotSpot's C1 compiler only (``session.get_spark``)."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_jvm_runs_c1_only(spark):
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"))
    assert bean.getVMOption("TieredStopAtLevel").getValue() == "1"


_CALLER_OPTS_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from map_the_net_crawler_spark.session import get_spark
sp = get_spark(master="local[1]", shuffle_partitions=1, extra_conf={{
    "spark.driver.extraJavaOptions": "-XX:-UsePerfData"}})
jvm = sp.sparkContext._jvm
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
for opt in ("TieredStopAtLevel", "UsePerfData"):
    print(opt + "=" + bean.getVMOption(opt).getValue())
sp.stop()
"""


def test_c1_cap_survives_caller_extra_java_options():
    """A caller's own ``spark.driver.extraJavaOptions`` (as perfbench
    passes) must not replace the cap, nor the cap the caller's options;
    JVM flags apply only at launch, so this needs a fresh process."""
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "512m"}
    env.pop("SPARK_MASTER", None)
    out = subprocess.run(
        [sys.executable, "-c", _CALLER_OPTS_SCRIPT.format(root=ROOT)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    assert "TieredStopAtLevel=1" in lines, out.stdout
    assert "UsePerfData=false" in lines, out.stdout
