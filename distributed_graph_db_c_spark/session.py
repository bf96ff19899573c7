"""SparkSession factory.

Scale posture: these configs are the local[32] test harness defaults; on a
real cluster the same code runs unchanged — AQE picks shuffle parallelism
and handles skew, dynamic partition overwrite replaces only the partitions
a partitioned write touches, and Arrow keeps the few pandas-UDF paths
batched rather than row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "dgdb-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the SparkSession used by tests/bench.

    The driver harness passes its own session to ``__spark_entry__``
    callables; this factory is for tests, bench.py, and interactive use.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        # AQE: runtime coalescing, skew-join splitting, plan re-opt — the
        # mechanism that makes the same plans survive a 100x scale-up.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Dynamic mode: a partitioned overwrite replaces only the partitions
        # it writes and leaves the rest untouched.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Arrow for every pandas-UDF exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics against the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Round 15 (guide §1.2/§7.3 — planning cost is driver-side work):
        # constraint propagation infers IsNotNull/equality constraints
        # across every projected column, and the engine's unpacked-column
        # vector scoring projects 64+ columns into self-joins — the
        # inference is combinatorial in plan width (observed: the
        # 64-column rescore joins carried ~130-term inferred Filter
        # chains, and dedup_embedding_pairs_grade ran 6.4s -> 3.8s with
        # it off; A/B over 24 queries spanning every family showed no
        # regression).  Inference-only: user predicates still push down
        # to scans, results are bit-identical, and the cost it removes
        # grows with plan width, not data size — scale-independent.
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # Whole-stage codegen emits one compiled class per generated
        # plan; a 146-query benchmark session fills the JVM's default
        # 240 MB reserved code cache mid-run, at which point HotSpot
        # DISABLES the JIT ("CodeHeap 'non-profiled nmethods' is full")
        # and every later query runs interpreted — observed as a 15%
        # suite-total regression on the second full bench pass.  Double
        # the cache (takes effect only at JVM launch, so it must be set
        # here, not post-hoc).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Runtime-settable knobs we need regardless of who built the session
    (the correctness driver builds its own).  Timezone must be UTC so
    date/timestamp values agree with DuckDB's naive timestamps."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
