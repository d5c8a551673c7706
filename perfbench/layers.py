"""Per-layer attribution from outside the program.

`Tracer.span` records a span around a call into one of `miletos_spark`'s
layers and sets a Spark job tag for its duration, so every job the call
launches can be found again in Spark's status store. A job carries only the
tag of the innermost open span, which makes job counts add up without double
counting. Spans are kept in memory; `Tracer.harvest` turns the spans of one
pass into per-span and per-pass numbers after the pass has ended.

`patched` wraps library functions in spans by replacing module attributes,
which is how calls made inside the library (for example `run_population`
calling `clip_detrend_loop`) are seen without tracing code in the library.
"""

from __future__ import annotations

import functools
import importlib
import time
from contextlib import contextmanager

# span name -> the module attributes a call to it can go through. A name
# imported into another module at import time needs that module listed too.
LAYER_CALLS: dict[str, tuple[str, ...]] = {
    "datagen.transit_injected": (
        "miletos_spark.datagen.fixtures:transit_injected",
    ),
    "datagen.flare_injected": ("miletos_spark.datagen.fixtures:flare_injected",),
    "sources.write_stage": ("miletos_spark.sources.sinks:write_stage",),
    "operators.clip_detrend_loop": (
        "miletos_spark.operators.detrend:clip_detrend_loop",
        "miletos_spark.plans.orchestrator:clip_detrend_loop",
    ),
    "search.trial_table": (
        "miletos_spark.search.bls:trial_table",
        "miletos_spark.plans.orchestrator:trial_table",
    ),
    "search.bls_multi_signal_grouped": (
        "miletos_spark.search.bls:bls_multi_signal_grouped",
        "miletos_spark.plans.orchestrator:bls_multi_signal_grouped",
    ),
    "search.lomb_scargle_grouped": (
        "miletos_spark.search.lombscargle:lomb_scargle_grouped",
        "miletos_spark.plans.orchestrator:lomb_scargle_grouped",
    ),
    "search.flare_outlier_search": (
        "miletos_spark.search.flare:flare_outlier_search",
        "miletos_spark.plans.orchestrator:flare_outlier_search",
    ),
    "model.depth_fit_closed_form": (
        "miletos_spark.model.likelihood:depth_fit_closed_form",
    ),
    "plans.run_population": ("miletos_spark.plans.orchestrator:run_population",),
    "pipeline.quality_classifier": (
        "miletos_spark.pipeline.text:quality_classifier",
    ),
    "pipeline.scrub_pii": ("miletos_spark.pipeline.text:scrub_pii",),
    "pipeline.exact_dedup": ("miletos_spark.pipeline.dedup:exact_dedup",),
    "pipeline.remove_duplicate_spans": (
        "miletos_spark.pipeline.dedup:remove_duplicate_spans",
    ),
    "pipeline.assign_splits": ("miletos_spark.pipeline.sampling:assign_splits",),
    "pipeline.running_offsets": (
        "miletos_spark.pipeline.packing:running_offsets",
    ),
    "pipeline.pack_chunks": ("miletos_spark.pipeline.packing:pack_chunks",),
    "streaming.stream_pack_shards": (
        "miletos_spark.streaming.ingest:stream_pack_shards",
    ),
    "streaming.read_committed_shards": (
        "miletos_spark.streaming.ingest:read_committed_shards",
    ),
}

# spans the workloads open themselves, around calls that are not library
# functions: parquet reads and the final action of a pass
OWN_SPANS = ("sources.read_parquet", "population.action", "text.action")
SPAN_NAMES = (*LAYER_CALLS, *OWN_SPANS)

PASS_TOTALS = (
    "jobs", "stages", "tasks", "exec_run_ms", "exec_cpu_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "write_bytes",
)


class _Span:
    __slots__ = ("name", "tag", "start", "end")

    def __init__(self, name: str, tag: str, start: float):
        self.name, self.tag, self.start, self.end = name, tag, start, start


class Tracer:
    """Spans plus Spark job tags; records nothing while `enabled` is
    false. The benchmark is one closed-loop client, so one stack of open
    spans serves the main thread and the streaming callback thread (the
    main thread waits while a micro-batch runs)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._scala_sc = self._sc._jsc.sc()
        self.enabled = False
        self._open: list[_Span] = []
        self._done: list[_Span] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        rec = _Span(name, f"perfbench-span-{self._n}", time.perf_counter())
        self._n += 1
        if parent is not None:
            self._sc.removeJobTag(parent.tag)
        self._sc.addJobTag(rec.tag)
        self._open.append(rec)
        try:
            yield
        finally:
            rec.end = time.perf_counter()
            self._open.pop()
            self._sc.removeJobTag(rec.tag)
            if parent is not None:
                self._sc.addJobTag(parent.tag)
            self._done.append(rec)

    def harvest(self) -> tuple[dict, dict]:
        """Consume the spans finished since the last harvest. Returns
        ({span name: {"s", "jobs"}}, {total name: value}) where the
        totals cover every job of those spans, each stage counted once."""
        spans, self._done = self._done, []
        self._scala_sc.listenerBus().waitUntilEmpty(60_000)
        tracker = self._scala_sc.statusTracker()
        store = self._scala_sc.statusStore()
        no_status = self._jvm.java.util.ArrayList()
        no_quantiles = self._sc._gateway.new_array(self._jvm.double, 0)
        per_span: dict[str, dict] = {}
        totals = dict.fromkeys(PASS_TOTALS, 0.0)
        seen_stages: set[int] = set()
        for rec in sorted(spans, key=lambda s: s.start):
            jobs = list(tracker.getJobIdsForTag(rec.tag))
            agg = per_span.setdefault(rec.name, {"s": 0.0, "jobs": 0})
            agg["s"] += rec.end - rec.start
            agg["jobs"] += len(jobs)
            totals["jobs"] += len(jobs)
            for job_id in jobs:
                info = tracker.getJobInfo(job_id)
                if info.isEmpty():
                    continue
                for stage_id in info.get().stageIds():
                    if stage_id in seen_stages:
                        continue
                    seen_stages.add(stage_id)
                    attempts = store.stageData(
                        stage_id, False, no_status, False, no_quantiles
                    )
                    for k in range(attempts.size()):
                        st = attempts.apply(k)
                        if st.numCompleteTasks() == 0:
                            continue  # skipped: its shuffle was reused
                        totals["stages"] += 1
                        totals["tasks"] += st.numCompleteTasks()
                        totals["exec_run_ms"] += st.executorRunTime()
                        totals["exec_cpu_ms"] += st.executorCpuTime() / 1e6
                        totals["shuffle_read_bytes"] += st.shuffleReadBytes()
                        totals["shuffle_write_bytes"] += st.shuffleWriteBytes()
                        totals["write_bytes"] += st.outputBytes()
        return per_span, totals


def _resolve(target: str):
    mod_name, attr = target.split(":")
    return importlib.import_module(mod_name), attr


@contextmanager
def patched(wrappers: dict[str, callable]):
    """Temporarily replace module attributes: {"pkg.mod:attr": make},
    where `make(original)` returns the replacement. Restores on exit."""
    saved = []
    try:
        for target, make in wrappers.items():
            mod, attr = _resolve(target)
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, make(orig))
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


def layer_wrappers(tracer: Tracer) -> dict[str, callable]:
    """A span wrapper for every call site in LAYER_CALLS."""

    def spanned(name):
        def make(fn):
            @functools.wraps(fn)
            def call(*args, **kwargs):
                with tracer.span(name):
                    return fn(*args, **kwargs)

            return call

        return make

    return {
        target: spanned(name)
        for name, targets in LAYER_CALLS.items()
        for target in targets
    }
