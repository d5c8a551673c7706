"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the same config block is what we'd ship
to a 1000-executor cluster minus the master/memory lines (AQE, Arrow,
UTC session TZ, shuffle-partition sizing and the codegen cache are
cluster-relevant too).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """`spark.driver.memory` when SPARK_DRIVER_MEMORY is unset: a third
    of the host's physical RAM, at most 48g. A heap larger than the
    host lets G1 grow instead of collect until the kernel kills the
    JVM."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 << 10, phys // 3 >> 20)}m"


def get_spark(
    app_name: str = "miletos_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    - AQE on: runtime coalescing + skew-join handling replace the
      reference's hand-rolled power-law work partitioning
      (miletos/main.py:5698-5724).
    - Arrow on: all pandas-UDF stages (detrend/GP/sampler) move data
      in columnar batches.
    - UTC session timezone: parity with the DuckDB oracle on
      timestamp->double conversions.
    - Codegen cache of 2048 compiled sources
      (`spark.sql.codegen.cache.maxEntries`, default 100): a warm pass
      cycles through ~185 (population) or ~141 (text) distinct generated
      sources, so at 100 each is evicted before the next pass needs it
      and every pass recompiles it.
    - No stage id in generated class names
      (`spark.sql.codegen.useIdInClassName=false`): AQE numbers
      whole-stage-codegen stages in planning order, so the same stage
      came back as a new `GeneratedIteratorForCodegenStage<N>`, new
      source text and a cache miss. With both settings a warm population
      pass compiles 0 classes (before: ~157-187) and a warm text pass 0,
      or a few when AQE plans a micro-batch's join differently (before:
      ~142).
    """
    # One BLAS thread per Python worker: numpy inside applyInPandas
    # otherwise spawns a full OpenBLAS thread pool PER concurrently
    # running task (32 tasks x 32 threads on this box) and the
    # oversubscription thrash dwarfs the actual linear algebra. Task
    # parallelism comes from Spark; the kernels stay single-threaded.
    for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(_v, "1")

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated classes stay cached across passes (see docstring).
        # maxEntries is a static conf, read only when the session is
        # built. 2048: one run of either benchmark workload compiles at
        # most ~200 distinct sources, so both fit ten times over. The
        # largest session here, Tier-1's one test JVM, generates 3986
        # distinct sources; at 2048 it compiles 4169 (at 100: 8812), so
        # a bound that keeps the classes' metaspace finite costs it 5%.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.sql.codegen.useIdInClassName", "false")
        # cluster twin of the os.environ defaults above (executors do
        # not inherit the driver env on a real deployment)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
