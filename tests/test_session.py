"""The driver JVM ``get_spark`` launches keeps Spark's fixed-size
serialization and broadcast buffers out of G1's humongous regions,
also on a heap small enough that G1 would pick 1 MiB regions."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIB = 1 << 20

_PROBE = """
import json
from map_reduce_sf_crime_spark.session import get_spark
spark = get_spark("session_probe")
jvm = spark.sparkContext._jvm
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
block = spark.sparkContext.getConf().get("spark.broadcast.blockSize", "4m")
print(json.dumps({
    "g1": bean.getVMOption("UseG1GC").getValue(),
    "region": int(bean.getVMOption("G1HeapRegionSize").getValue()),
    "block": jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(block),
}))
spark.stop()
"""


def test_spark_buffers_are_not_humongous_on_a_1g_heap():
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    )
    vm = json.loads(out.stdout.strip().splitlines()[-1])
    assert vm["g1"] == "true"
    # G1 allocates objects of half a region or more as humongous
    humongous_from = vm["region"] // 2
    # Spark's serialization chunk (task binaries, collected results)
    assert MIB < humongous_from
    assert vm["block"] < humongous_from
