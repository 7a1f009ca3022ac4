"""Per-layer tracing from the benchmark's own side of the API.

Spans are recorded around calls into each module's public functions.
Spark is lazy, so every traced boundary materializes its output
(`localCheckpoint(eager=True)` or a no-op sink) inside the span; the
extra work this costs is the tracing overhead the run reports.

The distributed route's calls are timed by temporarily wrapping the
module attributes that `pipeline.run_pipeline` looks up at call time
(`pipeline.ingest`, `pipeline.extract`, the public `stage_b` delta /
merge / B9 / B11 functions). Those run on `stage_b.par` threads, so a
layer's busy time is the union of its spans, not their sum.
"""

from __future__ import annotations

import contextlib
import dataclasses
import threading
import time

from pyspark.sql import DataFrame

STAGE_B_CALLS = (
    "b10_delta", "b1_delta", "b2_delta", "b3_delta", "b4_b5_delta",
    "b6_delta", "b7_delta", "b8_delta", "merge_virtual",
    "b9_clean_unconnected", "b11_model_gate",
)


class Spans:
    """In-memory span log: (layer, start, end) on the perf_counter clock."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.rows: list[tuple[str, float, float]] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            with self._lock:
                self.rows.append((layer, t0, t1))

    def calls(self, layer: str) -> int:
        return sum(1 for name, _, _ in self.rows if name == layer)

    def busy(self, *layers: str) -> float:
        """Length of the union of the layers' span intervals."""
        iv = sorted((a, b) for name, a, b in self.rows if name in layers)
        total, cur_a, cur_b = 0.0, None, None
        for a, b in iv:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    total += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            total += cur_b - cur_a
        return total


def materialize(value):
    """Checkpoint every DataFrame inside a call's return value."""
    if isinstance(value, DataFrame):
        return value.localCheckpoint(eager=True)
    if isinstance(value, dict):
        return {k: materialize(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return type(value)(materialize(v) for v in value)
    if dataclasses.is_dataclass(value) and not isinstance(value, type):
        return dataclasses.replace(value, **{
            f.name: materialize(getattr(value, f.name))
            for f in dataclasses.fields(value)})
    return value


@contextlib.contextmanager
def wrapped(spans: Spans, targets: list[tuple[object, str, str]]):
    """Replace each (module, attribute) with a spanned, materializing
    wrapper for the duration of the block. Missing attributes are
    skipped, so the trace keeps working when a call is removed."""
    saved = []

    def wrap(fn, layer):
        def call(*args, **kwargs):
            with spans.span(layer):
                return materialize(fn(*args, **kwargs))
        return call

    try:
        for mod, attr, layer in targets:
            fn = getattr(mod, attr, None)
            if fn is not None:
                saved.append((mod, attr, fn))
                setattr(mod, attr, wrap(fn, layer))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def pipeline_targets() -> list[tuple[object, str, str]]:
    from pathways2go_spark import pipeline, stage_b

    return ([(pipeline, "ingest", "ingest.parse"),
             (pipeline, "extract", "stage_a.extract")]
            + [(stage_b, name, "stage_b") for name in STAGE_B_CALLS])


class JobCounter:
    """Spark jobs / stages / tasks started between two snapshots, from
    the status tracker (no job groups are set, so every job is in the
    `None` group)."""

    def __init__(self, sc) -> None:
        self.tracker = sc.statusTracker()
        self.before = set(self.tracker.getJobIdsForGroup(None))

    def delta(self) -> dict:
        jobs = set(self.tracker.getJobIdsForGroup(None)) - self.before
        stages = tasks = failed = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                st = self.tracker.getStageInfo(s)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped stage: its shuffle output was reused
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "tasks_failed": failed}


def replay_fused(pdf, a_dims, b_dims) -> dict:
    """Single-thread replay on the Spark driver of the fused route's per-doc
    loop (`stage_a_local.fused_pipeline_udf`) over one pandas batch,
    with thread CPU time split between `extract_doc` (stage A) and
    `apply_rules_rows` (stage B)."""
    from pathways2go_spark import stage_a_local as AL

    cpu = {"extract_doc": 0.0, "apply_rules_rows": 0.0}

    def timed(name, fn):
        def call(*args, **kwargs):
            t0 = time.thread_time()
            try:
                return fn(*args, **kwargs)
            finally:
                cpu[name] += time.thread_time() - t0
        return call

    saved = {n: getattr(AL, n) for n in cpu}
    try:
        for n, fn in saved.items():
            setattr(AL, n, timed(n, fn))
        for _ in AL.fused_pipeline_udf(D=a_dims, B=b_dims)(iter([pdf])):
            pass
    finally:
        for n, fn in saved.items():
            setattr(AL, n, fn)
    return {"stage_a_local.cpu_s": cpu["extract_doc"],
            "stage_b_local.cpu_s": cpu["apply_rules_rows"]}
