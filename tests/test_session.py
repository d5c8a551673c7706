"""Session defaults (miletos_spark/session.py) that do not need a
second SparkSession to check."""

from __future__ import annotations

import os

from miletos_spark.session import default_driver_memory


def test_default_driver_memory_is_a_third_of_ram_capped_at_48g(monkeypatch):
    def host(gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * (1 << 30) // 4096}
        monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
        return default_driver_memory()

    assert host(16) == "5461m"      # 16 GiB // 3
    assert host(144) == "49152m"    # exactly 48g
    assert host(1024) == "49152m"   # capped
    assert host(3) == "1024m"


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (Spark's CodegenMetrics)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_run_compiles_no_new_classes(spark, sf_dir):
    """A warm repeat of a plan finds its generated classes in Spark's
    codegen cache: the cache holds more classes than a pass cycles
    through, and class names carry no per-query stage id, so AQE's
    renumbering does not change the source text.

    - A repeated population run compiles nothing.
    - A pack-shards drain repeated after a population run (which cycles
      ~190 classes through the cache) compiles at most a few classes:
      AQE sometimes plans a micro-batch's join differently when its
      stages finish in another order, and that plan's classes are new
      (0-9 per warm drain measured). An evicting cache recompiles the
      whole drain (~50)."""
    import os
    import shutil
    import tempfile
    import uuid

    from test_orchestrator import POP_CFG, _population

    from miletos_spark.plans.driver_queries import (
        CURATION_STREAM_SCHEMA,
        _land_docs_pack_feed,
    )
    from miletos_spark.plans.orchestrator import run_population
    from miletos_spark.streaming.ingest import stream_pack_shards

    pop = _population(spark)
    for _ in range(2):
        run_population(spark, pop, POP_CFG).collect()
    before = _compiles(spark)
    run_population(spark, pop, POP_CFG).collect()
    repeat = _compiles(spark) - before
    assert repeat == 0, f"{repeat} classes compiled by a repeated run"

    feed = _land_docs_pack_feed(spark, sf_dir)
    work = os.path.join(
        tempfile.gettempdir(), "miletos_spack_codegen_" + uuid.uuid4().hex[:8]
    )

    def drain(i):
        stream_pack_shards(
            spark, feed, CURATION_STREAM_SCHEMA,
            os.path.join(work, f"out{i}"), os.path.join(work, f"state{i}"),
            capacity=512, max_files_per_trigger=1,
        )

    try:
        drain(0)
        run_population(spark, pop, POP_CFG).collect()
        before = _compiles(spark)
        drain(1)
        warm = _compiles(spark) - before
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert warm <= 15, f"{warm} classes compiled by a warm drain"
