"""``get_spark`` under a ``local[N]`` master caps the driver JVM at one JIT
compiler thread per tier (``-XX:CICompilerCount=2``), through
``spark.driver.defaultJavaOptions`` so a caller's own
``spark.driver.extraJavaOptions`` still applies."""

from __future__ import annotations

import json
import os
import subprocess
import sys

CAP = "-XX:CICompilerCount=2"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_jvm_runs_one_compiler_thread_per_tier(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    assert CAP in list(mf.getRuntimeMXBean().getInputArguments())


_CHILD = r"""
import json
from hta_spark.session import get_spark
spark = get_spark("session_jvm_child", master="local[1]", extra_conf={
    "spark.driver.extraJavaOptions": "-XX:-UsePerfData"})
jvm = spark.sparkContext._jvm
mf = jvm.java.lang.management.ManagementFactory
hs = mf.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print(json.dumps({
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
    "CICompilerCount": hs.getVMOption("CICompilerCount").getValue(),
    "UsePerfData": hs.getVMOption("UsePerfData").getValue()}))
spark.stop()
"""


def test_caller_extra_java_options_keep_the_cap():
    """perfbench's shape: the caller passes its own extraJavaOptions; the
    JVM carries both flags, and both take effect."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="512m")
    out = subprocess.run([sys.executable, "-c", _CHILD], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    seen = json.loads(out.stdout.strip().splitlines()[-1])
    assert CAP in seen["args"]
    assert "-XX:-UsePerfData" in seen["args"]
    assert seen["CICompilerCount"] == "2"
    assert seen["UsePerfData"] == "false"
