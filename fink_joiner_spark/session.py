"""SparkSession factory with scale-oriented defaults.

Replaces the reference's environment setup (RocksDB state backend,
exactly-once checkpointing, object reuse — ``CRMLSJoiner.scala:50-80``)
with the Spark equivalents: AQE, tuned shuffle partitions, Arrow for the
Python boundary, and the RocksDB state-store provider for streaming.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


def _driver_mem() -> str:
    """Driver heap sized from the host, not hard-coded: ~40% of
    physical memory, clamped to [2g, 48g]. In local mode this heap IS
    the whole cluster (driver + every executor thread), so a fixed 32g
    either starves a big host or refuses to start on a small one.
    ``SPARK_GRAFT_DRIVER_MEM`` overrides."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{min(48, max(2, (total_gb * 2) // 5))}g"
    except OSError:
        pass
    return "8g"


def get_spark(
    app_name: str = "fink_joiner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    streaming_rocksdb: bool = True,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults target the local test harness (``local[$SPARK_GRAFT_CPUS]``)
    but every knob is the one you'd set on a 1000-executor cluster:

    * AQE on — runtime coalescing of shuffle partitions + skew-join
      splitting replace hand-tuned partition counts at 100 TB.
    * ``shuffle_partitions`` is only the *initial* number; AQE coalesces.
    * Arrow enabled so any Pandas-UDF operator moves data in columnar
      batches instead of pickled rows.
    * RocksDB state store: streaming dedup/join state spills to local
      disk exactly like the reference's RocksDB backend
      (``CRMLSJoiner.scala:57-59``).
    * ``nanosAsLong``: the driver test data stores TIMESTAMP(NANOS),
      which Spark's vectorized parquet reader refuses; we read nanos as
      longs and promote to timestamps in the catalog layer.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        # Spark's default driver heap is 1g — in local mode that is the
        # ENTIRE JVM (driver + all 32 executor threads). Any candidate-
        # join materialization beyond toy size OOMs it. Honored only
        # when this builder launches the JVM (i.e. not on getOrCreate
        # reuse), which is exactly the bench/test path.
        .config("spark.driver.memory", _driver_mem())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # static: sized with the code cache below
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    # ReservedCodeCacheSize: ~120 distinct queries generate enough
    # whole-stage-codegen classes to exhaust the JVM's default 240 MB
    # code cache mid-suite; once full the JIT silently stops compiling
    # and heavy queries degrade 5-15× (measured: one bench run 334 s vs
    # 190 s with 1g). Round 6, at 174 queries, 1g itself started
    # showing the same signature — wall AND JVM-CPU creeping up
    # run-over-run with hot queries degrading (210 s/764 CPU-s at 1g
    # vs 202 s/705 CPU-s at 2g, same tree) — so the reservation now
    # tracks the registry size with headroom. Reservation is virtual —
    # committed lazily, so an oversized value costs address space only.
    # 2g is also the JVM's HARD CEILING (ReservedCodeCacheSize max
    # 2048M — a 3g attempt refuses to boot). Investigated at 185
    # queries (round 8) when one full run showed an 8× CPU blowup on
    # ext_hybrid_search_rrf: a rerun with identical flags measured it
    # at its normal 2.5 CPU-s and stderr carried no compiler-disabled
    # warnings — a transient host event, not cache exhaustion. If the
    # registry ever genuinely outgrows 2g, the lever is fewer codegen
    # classes (shared query shapes), not a bigger reservation.
    # The code cache only holds what the JIT compiles; Janino's output
    # is held by Spark's codegen class cache, whose default of 100
    # entries is below one CRMLS snapshot-join round (~129 distinct
    # generated classes): every steady-state round recompiled 50-60 of
    # them with Janino, and HotSpot JIT-compiled each new class again.
    # 1024 entries (spark.sql.codegen.cache.maxEntries below) gave 0
    # Janino compiles from the second round on.
    # PerMethod/PerBytecodeRecompilationCutoff=-1: with ~190 distinct
    # query plans sharing one JVM, HotSpot's made-not-compilable cutoff
    # (~400 deopts) stochastically dropped interpreted-HOF-heavy
    # queries off the compiled cliff for the rest of the process —
    # 10-50× real-CPU blowups that moved between queries run to run
    # and never reproduced standalone (code cache, GC, and host steal
    # all instrumented and ruled out). Disabling the cutoff keeps
    # recompilation available indefinitely: two full benches after the
    # change ran with ZERO rep-spread outliers at the session's best
    # totals (232/244 s vs 244-329 s with defaults, each of those with
    # at least one blowup).
    extra_opts = (
        "-XX:ReservedCodeCacheSize=2g "
        "-XX:PerMethodRecompilationCutoff=-1 "
        "-XX:PerBytecodeRecompilationCutoff=-1"
    )
    user_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if user_opts:
        # JVM-launch-time flags (honored only when this builder starts
        # the JVM). Used for measurement experiments, e.g. JIT tiering.
        extra_opts = f"{extra_opts} {user_opts}"
    builder = builder.config("spark.driver.extraJavaOptions", extra_opts)
    if streaming_rocksdb:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
