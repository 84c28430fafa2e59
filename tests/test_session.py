"""The session factory's driver JIT policy (session.py): C2 thresholds at
10x the JDK 17 defaults, set as the driver's default Java options so a
caller's own extraJavaOptions cannot silently replace them."""

from __future__ import annotations

import json
import os
import subprocess
import sys

JIT_POLICY = {
    "Tier4InvocationThreshold": "50000",
    "Tier4MinInvocationThreshold": "6000",
    "Tier4CompileThreshold": "150000",
    "Tier4BackEdgeThreshold": "400000",
}

_PROBE = """
import json
from xngin_spark.session import get_spark

spark = get_spark("jit_policy_probe", cpus=1,
                  extra_conf={"spark.driver.extraJavaOptions": "-Xms1g"})
jvm = spark.sparkContext._jvm
args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print("ARGS:" + json.dumps(list(args.getInputArguments())))
spark.stop()
"""


def test_session_jvm_runs_the_jit_policy(spark):
    jvm = spark.sparkContext._jvm
    hotspot = "com.sun.management.HotSpotDiagnosticMXBean"
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName(hotspot)
    )
    got = {k: bean.getVMOption(k).getValue() for k in JIT_POLICY}
    assert got == JIT_POLICY


def test_jit_policy_survives_caller_extra_java_options():
    """A caller's extraJavaOptions (perfbench passes its heap and tmpdir)
    adds to the policy instead of replacing it."""
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("ARGS:")]
    assert lines, f"no result (rc={proc.returncode}): {proc.stderr[-2000:]}"
    args = json.loads(lines[0][len("ARGS:"):])
    assert "-Xms1g" in args
    for k, v in JIT_POLICY.items():
        assert f"-XX:{k}={v}" in args, args
