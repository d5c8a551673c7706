"""`schema.local_relation`: collected rows re-exposed as a local
relation keep their values, NULLs and schema."""

import math

from pyspark.sql import Row
from pyspark.sql import types as T

from miletos_spark.schema import local_relation

SCHEMA = T.StructType(
    [
        T.StructField("target", T.StringType(), False),
        T.StructField("power", T.DoubleType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("big", T.LongType()),
        T.StructField(
            "signals",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("signal_idx", T.IntegerType(), False),
                        T.StructField("snr", T.DoubleType()),
                    ]
                ),
                False,
            ),
        ),
    ]
)


def test_local_relation_keeps_nulls_values_and_schema(spark):
    rows = [
        Row(target="a", power=None, n=None, big=None, signals=None),
        Row(target="b", power=0.1 + 0.2, n=7, big=2**53 + 1,
            signals=[Row(signal_idx=0, snr=21.402544032697776)]),
        Row(target="c", power=float("nan"), n=0, big=-1, signals=[]),
    ]
    df = local_relation(spark, rows, SCHEMA)
    assert df.schema == SCHEMA
    got = {r["target"]: r for r in df.collect()}
    # NULL double / NULL int stay NULL (not NaN, not a float)
    assert got["a"]["power"] is None
    assert got["a"]["n"] is None
    assert got["a"]["big"] is None
    assert got["a"]["signals"] is None
    assert df.filter("power IS NULL AND n IS NULL").count() == 1
    # NaN is a value, not a NULL
    assert math.isnan(got["c"]["power"])
    # values round-trip bit-exactly; a NULL in an integer column does
    # not turn it into doubles (2**53 + 1 has no double)
    assert got["b"]["power"] == 0.1 + 0.2
    assert isinstance(got["b"]["n"], int) and got["b"]["n"] == 7
    assert got["b"]["big"] == 2**53 + 1
    assert got["b"]["signals"][0]["snr"] == 21.402544032697776
    # dict rows work the same way
    d = local_relation(spark, [{"target": "d", "power": None, "n": 1,
                                "big": None, "signals": []}], SCHEMA).first()
    assert d["power"] is None and d["n"] == 1 and d["signals"] == []
    # no rows: the schema is kept
    empty = local_relation(spark, [], SCHEMA)
    assert empty.schema == SCHEMA and empty.collect() == []
