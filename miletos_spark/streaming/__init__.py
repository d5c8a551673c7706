from miletos_spark.streaming.stateful import stream_trigger_clusters
from miletos_spark.streaming.ingest import (
    finish_ls_power,
    stream_bls,
    stream_ls_moments,
    stream_rebin,
    stream_sessions,
)

__all__ = [
    "stream_sessions", "stream_rebin", "stream_bls", "stream_ls_moments",
    "finish_ls_power", "stream_trigger_clusters",
]
