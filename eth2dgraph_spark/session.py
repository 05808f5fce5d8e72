"""SparkSession builder tuned for this engine.

Defaults are sized for local[$SPARK_GRAFT_CPUS] testing but every knob is the
one we would set on a 1000-executor cluster too: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), UTC session timezone (chain
timestamps are UTC; also keeps the DuckDB oracle comparable), Arrow for the
pandas_udf kernels, and a shuffle-partition count that AQE coalesces down.

Two settings serve one policy for the engine's many short jobs over small
data (chainbench `follow` and `analyse`): compile each piece of plan code
once per session, and spend the optimising JIT only on code that stays hot.
At that size a job's cost is mostly the JVM compiling code, not running it
(4-core box, JDK 17, Spark's defaults): in a cold `analyse` pass the C2
compiler threads used 16-19 s of the pass's ~54 CPU s (all processes), and
`-XX:+LogCompilation` attributed most of C2's 28 s over a run to the Janino
code generator (7.7 s), Java serialization (2.6 s) and class loading
(1.3 s), not to the generated data loops.

- `spark.sql.codegen.cache.maxEntries` = 1000 (Spark's default is 100).
  One `follow` micro-batch generates ~160 classes and one `analyse` pass
  ~280, so at 100 the stream recompiled ~160 classes in every batch,
  forever. At 1000 the second batch compiles 73 classes and the third
  and fourth 12 each. This is a static conf: it is read once per JVM,
  when the codegen cache is first built, so only the session that
  starts the JVM sets it.
- `spark.driver.defaultJavaOptions` = the four C2 (tier-4) thresholds at
  10x their JDK 17 defaults (`_C2_THRESHOLDS`). C1 still compiles
  everything early; C2 now waits for code that stays hot, so the one-off
  compiler, serialization and class-loading paths no longer pay for it,
  while a loop over ~10^6 rows still reaches C2 early in its run. Against
  the defaults, on the CPU of a cold `analyse` pass: x3 saved 8%, x10
  23%, x20 31% (steady state unmeasured), x10 with the default back-edge
  threshold only 10%. C1 only (`TieredStopAtLevel=1`) cut cold CPU by
  half but made steady-state units 19-37% slower, and
  `CompileThresholdScaling=10` also delays C1 (cold wall time +20%).
  `defaultJavaOptions`, not `extraJavaOptions`: Spark prepends it to a
  caller's `spark.driver.extraJavaOptions`, so a caller passing `-Xms`
  there keeps these flags. A caller's own `defaultJavaOptions` in
  `extra_conf` replaces them.

  Scope: JVM options take effect only when PySpark itself launches the
  JVM, i.e. local or client mode started from Python. They do nothing
  under `spark-submit` (the JVM is already running) or when a session
  already exists in this process, and they never reach executors
  (`spark.executor.defaultJavaOptions` would).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEF_SHUFFLE = "32"
# Tier-4 (C2) compile thresholds: the JDK 17 defaults x10.
_C2_THRESHOLDS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def _default_driver_mem() -> str:
    """Half of physical RAM in whole GiB, clamped to [4g, 24g]; 8g when
    the probe fails (non-Linux)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) // (1024 * 1024)
                    return f"{min(24, max(4, total_gib // 2))}g"
    except OSError:
        pass
    return "8g"


def get_spark(
    app_name: str = "eth2dgraph-spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_SHUFFLE_PARTITIONS", _DEF_SHUFFLE))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing, skew-join handling, dynamic join strategy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # false = coalesce to advisoryPartitionSizeInBytes instead of
        # stopping at defaultParallelism — Spark's own config doc
        # recommends false on clusters, and it is the guide-§2.2
        # "fewer, larger reduce partitions" lever. Measured r14
        # (interleaved A/B, tools/measure_r14_iterab.py): iterative
        # kernels 0.89x (lpa 0.72x), streams cross_dedup_stream 0.69x,
        # relational 0.64-0.86x, net 0.92-0.96x across mixed sets; the
        # one consistent regression (ngram_jaccard ~1.15x) is mitigated
        # at the query with an explicit repartition.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        # Arrow transfer for pandas_udf / mapInPandas kernels.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamps vs the DuckDB oracle and chain data (UTC).
        .config("spark.sql.session.timeZone", "UTC")
        # The driver testdata's events.ts has changed parquet type across
        # driver versions (TIMESTAMP(NANOS), then timestamp[us]/NTZ). Keep
        # nanosAsLong on so a NANOS file reads as long instead of erroring;
        # the source layer (sources.testdata._fix_nanos) normalizes every
        # representation to one session-TZ TIMESTAMP.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Keep scans well-sized at local scale; on a cluster this is the same
        # knob that bounds per-task input at ~128 MB.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # local[32] is a single JVM: driver memory IS executor memory. 8g
        # starves 32 threads once iterative queries pin localCheckpoint'ed
        # partitions (measured at sf0.1: pagerank 20.8 s -> 8.5 s,
        # byte_kernels 25.2 s -> 11.7 s going 8g -> 24g on a 128 GiB box).
        # Default adapts to the machine (half of physical RAM, clamped to
        # [4g, 24g]) so small boxes don't hand the JVM more heap than
        # exists and get OOM-killed mid-query. On a real cluster this knob
        # is per-executor memory at deploy time.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        # Compile once per session, C2 only for hot code (module docstring).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.defaultJavaOptions", _C2_THRESHOLDS)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
