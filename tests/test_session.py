"""session.get_spark's JIT and codegen-cache settings: the JVM it launches
carries the C2 thresholds, a caller's own defaultJavaOptions replaces them
while a caller's extraJavaOptions keeps them, and plan code compiled once
is not compiled again within a session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from eth2dgraph_spark.session import _C2_THRESHOLDS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jvm_input_args(spark) -> list[str]:
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    return list(bean.getInputArguments())


def test_jvm_carries_c2_thresholds_and_cache_size(spark):
    args = _jvm_input_args(spark)
    for flag in _C2_THRESHOLDS.split():
        assert flag in args, (flag, args)
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


_CHILD = """
import json, sys
from eth2dgraph_spark.session import get_spark
s = get_spark("java-options", master="local[1]", shuffle_partitions=1,
              extra_conf={sys.argv[1]: "-Deth2dgraph.probe=1"})
bean = s.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(bean.getInputArguments())))
s.stop()
"""


@pytest.mark.parametrize(
    "key, keeps_ours",
    [
        ("spark.driver.defaultJavaOptions", False),  # the caller's replaces ours
        ("spark.driver.extraJavaOptions", True),  # Spark appends it to ours
    ],
)
def test_caller_java_options(key, keeps_ours):
    # JVM options apply only to a JVM this process launches, and the test
    # session's JVM is already running: check in a fresh interpreter.
    env = dict(os.environ, SPARK_DRIVER_MEM="1g",
               PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""))
    out = subprocess.run([sys.executable, "-c", _CHILD, key], env=env, cwd=ROOT,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    args = json.loads(out.stdout.strip().splitlines()[-1])
    assert "-Deth2dgraph.probe=1" in args
    assert all((flag in args) == keeps_ours for flag in _C2_THRESHOLDS.split()), args


def test_plan_code_compiles_once_per_session(spark):
    """150 distinct plans overflow Spark's default 100-entry codegen cache;
    re-running the first must then find its classes still cached."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def query(i: int):
        return spark.range(3).selectExpr(f"id * {i + 7} + {i} AS x")

    first = query(0).collect()
    for i in range(1, 150):
        query(i).collect()
    before = compiles.getCount()
    assert query(0).collect() == first
    assert compiles.getCount() == before
