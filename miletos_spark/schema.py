"""Schemas and table loading.

The long-format light-curve schema replaces the reference's positional
``(numbtime, numbener, 3)`` cube (miletos/main.py:7475-7478, 9147) and its
``[stage][b][p][y]`` bundle hierarchy (miletos/main.py:3744-3752): stage
becomes lineage (chained DataFrames), and (kind, inst, chunk) become
columns we partition/cluster by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# One row per (time, ener) sample. At 100 TB this table is partitioned by
# (inst, chunk) on disk; chunk (TESS sector / pointing) is the natural
# append + partition-pruning unit (miletos/main.py:9966-9999).
LIGHTCURVE_SCHEMA = T.StructType(
    [
        T.StructField("time", T.DoubleType(), False),
        T.StructField("ener", T.IntegerType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("stdv", T.DoubleType(), True),
        T.StructField("kind", T.StringType(), False),
        T.StructField("inst", T.StringType(), False),
        T.StructField("chunk", T.IntegerType(), False),
    ]
)

KIND_FLUX = "RelativeFlux"
KIND_RV = "RelativeVelocity"

# Driver test tables (TESTDATA.md / FIXTURES.md §A).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver parquet table (columnar scan; Catalyst handles
    filter pushdown + column pruning downstream)."""
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some
        # driver datasets; Spark rejects NANOS unless read as raw
        # nanos (session conf, safe to set lazily, no effect on MICROS
        # files — those read as TIMESTAMP_NTZ and the epoch_* helpers
        # below branch on the observed dtype)
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def epoch_seconds_expr(df: DataFrame, ts_name: str = "ts"):
    """Column of epoch seconds (DOUBLE) for `df[ts_name]` with exact
    DuckDB parity.

    DuckDB computes epoch() = double(us)/1e6 whatever the parquet
    physical unit; we reproduce bit-for-bit for every type Spark may
    hand us for the same column:
    - LongType (legacy nanosAsLong read of NANOS parquet): integer
      `div 1000` (exact, stays under 2^53) -> cast double -> /1e6
    - TimestampNTZType (MICROS parquet, isAdjustedToUTC=false — what
      pyarrow writes for tz-naive data): no cast to numeric exists, so
      go through wall-clock micros-since-epoch (timezone-free, exactly
      DuckDB's naive-timestamp semantics) -> cast double -> /1e6
    - TimestampType (micros internally): cast to double = us/1e6
    """
    dtype = dict(df.dtypes)[ts_name]
    if dtype == "bigint":
        return F.expr(f"cast({ts_name} div 1000 as double) / 1e6")
    if dtype == "timestamp_ntz":
        return F.expr(
            f"cast(timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ'1970-01-01 00:00:00', {ts_name}) as double) / 1e6"
        )
    return F.col(ts_name).cast("double")


def epoch_micros_expr(df: DataFrame, ts_name: str = "ts"):
    """Column of integer epoch MICROSECONDS (BIGINT) for `df[ts_name]`.

    Integer microseconds are the engine-proof time representation: both
    a micros DuckDB (`epoch_us(ts)`) and a nanos-preserving DuckDB
    (TIMESTAMP_NS, ≥1.1) truncate to the same integer, and no float
    rounding is involved — outputs built on them hash identically
    across engines and versions. Prefer this over rounding epoch
    seconds (a double needing 16 significant digits) in query outputs.
    """
    dtype = dict(df.dtypes)[ts_name]
    if dtype == "bigint":
        return F.expr(f"{ts_name} div 1000")
    if dtype == "timestamp_ntz":
        # unix_micros() rejects NTZ; wall-clock diff from the NTZ epoch
        # is the timezone-free equivalent (matches DuckDB epoch_us on
        # naive timestamps)
        return F.expr(
            f"timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ'1970-01-01 00:00:00', {ts_name})"
        )
    return F.unix_micros(F.col(ts_name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all driver tables as temp views for spark.sql queries."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def local_relation(spark: SparkSession, rows, schema) -> DataFrame:
    """Collected rows re-exposed as an Arrow-backed LOCAL relation:
    `createDataFrame(list)` builds a Python-RDD-backed frame whose
    every downstream action pays a Python-runner round-trip per parent
    slice; an Arrow table crosses the boundary once at creation and
    plans as LocalTableScan, so broadcasts over it build driver-side
    with no scheduled job. `rows` are `Row`s or dicts keyed by field
    name. The table is built straight against the Spark schema's Arrow
    twin, so NULL stays NULL and NaN stays NaN (a pandas hop conflates
    the two, and turns an integer column holding a NULL into doubles),
    nested arrays/structs keep their types, an empty `rows` keeps the
    schema, and doubles round-trip bit-exactly."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [r.asDict(recursive=True) if isinstance(r, T.Row) else r
         for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema=schema)
