"""§2.12 — custom stateful streaming operator via applyInPandasWithState.

`session_window` covers plain gap sessionization (ingest.py), but the
reference's trigger clustering (W5, miletos/main.py:6352-6368) carries
a payload a built-in window aggregate can't express online: the
per-cluster argmax (peak time AND value) with deterministic
tie-breaks. This module implements the online form as an
`applyInPandasWithState` operator — the Structured Streaming seam for
arbitrary per-group state machines:

- state per group = the one OPEN cluster (start, last, n, peak) — O(1)
  bytes per group, no buffering of raw events;
- each micro-batch folds its (sorted) rows into the state; a row more
  than `gap` after the open cluster's last trigger CLOSES the cluster
  (emitted) and opens a new one;
- rows at or before the open cluster's last timestamp (cross-batch
  stragglers inside the watermark) merge into the open cluster.

Emission is purely gap-rule-driven (NoTimeout): a cluster is emitted
exactly when a later trigger proves the gap, so the emitted set is
independent of how the input is split into micro-batches — which is
what makes the operator's output SQL-checkable against a batch oracle
(the driver query appends one far-future sentinel trigger per group so
every real cluster closes; the sentinel's own cluster stays open and
is never emitted).

Scale: state is one tuple per group; shuffle is one Exchange on the
group key per micro-batch — the canonical stateful-streaming plan.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def stream_trigger_clusters(
    src: DataFrame,
    threshold: float,
    gap_sec: float,
    ts_col: str = "ts",
    value_col: str = "value",
    group_col: str = "event_type",
    watermark: str = "1 day",
) -> DataFrame:
    """Online W5: cluster above-threshold samples per group with a
    time-gap rule, emitting (t_start_us, t_end_us, n_triggers,
    t_peak_us, peak_value) per CLOSED cluster. `src` is a streaming
    DataFrame; ties on peak value break to the earliest time (the
    batch operator's deterministic struct-argmax convention)."""
    gap_us = int(round(gap_sec * 1_000_000))

    out_schema = StructType(
        [
            StructField("group_key", StringType()),
            StructField("t_start_us", LongType()),
            StructField("t_end_us", LongType()),
            StructField("n_triggers", LongType()),
            StructField("t_peak_us", LongType()),
            StructField("peak_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n", LongType()),
            StructField("peak_us", LongType()),
            StructField("peak_v", DoubleType()),
        ]
    )

    def fold(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        cur = list(state.get) if state.exists else None
        closed: list[list] = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            t_us = (
                pdf[ts_col]
                .to_numpy(dtype="datetime64[us]")
                .astype("int64")
            )
            order = t_us.argsort(kind="stable")
            vals = pdf[value_col].to_numpy(dtype="float64")
            for i in order:
                t, v = int(t_us[i]), float(vals[i])
                if cur is None:
                    cur = [t, t, 1, t, v]
                elif t - cur[1] > gap_us:
                    closed.append(cur)
                    cur = [t, t, 1, t, v]
                else:
                    cur[1] = max(cur[1], t)
                    cur[2] += 1
                    if v > cur[4] or (v == cur[4] and t < cur[3]):
                        cur[3], cur[4] = t, v
        if cur is not None:
            state.update(tuple(cur))
        if closed:
            yield pd.DataFrame(
                [[key[0], c[0], c[1], c[2], c[3], c[4]] for c in closed],
                columns=[f.name for f in out_schema.fields],
            )

    flagged = (
        src.withWatermark(ts_col, watermark)
        .filter(F.col(value_col) > F.lit(float(threshold)))
        .select(F.col(group_col), F.col(ts_col), F.col(value_col))
    )
    return (
        flagged.groupBy(group_col)
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .withColumnRenamed("group_key", group_col)
    )


# State-store partition count for the bounded-state streaming drains.
# Streaming pins spark.sql.shuffle.partitions into the checkpoint at
# the first batch and uses it as the STATE STORE partition count for
# the query's whole life — inheriting the batch default means every
# micro-batch opens, updates, snapshots and commits that many state
# stores regardless of state size. Every drain in this engine carries
# provably bounded state (per-rule/per-lang counters, |trials×buckets|
# spectra, open-session tuples), so the store count is sized to the
# STATE, not to the input or the core count — the same reasoning a
# cluster deployment applies, since the value is per-query and pinned
# per checkpoint (guide §2.2: fewer, larger partitions; AQE cannot do
# this for streaming — it is disabled there). Same-window A/B at
# sf0.1, stream_funnel drain: 32 parts 10.1/36.7 s vs 8 parts
# 4.5/5.8 s. Env-overridable for deployments whose keyed state is
# genuinely wide (e.g. very high-cardinality keyed spectra).
STREAM_STATE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTS", "8")
)


def await_drain(q: StreamingQuery, name: str, timeout_sec: int) -> None:
    """Wait for the availableNow query `q` to finish; stop it and raise
    on timeout — a silently partial drain would surface as an
    unexplained downstream mismatch, not as the timeout it is. A
    failed batch re-raises here."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming drain '{name}' exceeded {timeout_sec} s"
        )


def run_available_now(
    sdf: DataFrame, name: str, timeout_sec: int = 300,
    output_mode: str = "append",
) -> None:
    """Drain a static backlog through a streaming plan into a memory
    sink (availableNow) and wait for completion, with
    spark.sql.shuffle.partitions at STREAM_STATE_PARTITIONS for the
    DURATION of the drain — the first micro-batch pins it into the
    checkpoint as the state-store partition count; the session value
    is restored after termination so batch plans are unaffected."""
    spark = sdf.sparkSession
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
    )
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q, name, timeout_sec)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
