"""Per-layer tracing from outside the program.

A span wraps one call into a layer.  On entry it sets the Spark job
group to its own name and on exit restores the previous group, so every
job, stage and task in the event log belongs to the innermost span that
was open when the job started.  Spans are kept in memory; after the
session stops, :meth:`Tracer.layer_metrics` parses the event log and
reports, per span, ``self_s`` (wall time minus child spans), ``jobs``,
``single_task_stages``, ``executor_s`` (summed task run time) and
``shuffle_mb`` (shuffle bytes written).

With tracing off a span is a no-op and nothing is patched, which is how
the end-to-end metrics are measured.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict

FIELDS = ("self_s", "jobs", "single_task_stages", "executor_s", "shuffle_mb")

# run_pipeline's stage runners, looked up as globals of
# sema_spark.plans.pipeline at call time, and the span each one opens
PIPELINE_STAGES = {
    "run_incremental_stage": "mentions",
    "_run_linked_stage": "linking",
    "run_snapshot_stage": "canonicalize.nodes",
    "_run_edges_stage": "canonicalize.edges",
}

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = None
        self._stack: list[str] = []
        self._wall: dict[str, float] = defaultdict(float)
        self._child: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self.phase: str | None = None

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, name)
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)
            self._wall[name] += dt
            if self._stack:
                self._child[self._stack[-1]] += dt

    def self_s(self, name: str) -> float:
        return self._wall.get(name, 0.0) - self._child.get(name, 0.0)

    # ------------------------------------------------------------ patching
    def patch_materialize(self) -> None:
        """Count calls to ``plans.materialize.materialize``.  Must run
        before the operator modules that import it by name are loaded."""
        if not self.enabled:
            return
        import sema_spark.plans.materialize as m

        original = m.materialize

        @functools.wraps(original)
        def counted(df, *args, **kwargs):
            self.counts[f"{self.phase or 'other'}.materialize.cuts"] += 1
            return original(df, *args, **kwargs)

        m.materialize = counted

    def patch_pipeline(self) -> None:
        """Open a ``<phase>.<layer>`` span around each stage runner that
        ``run_pipeline`` calls."""
        if not self.enabled:
            return
        import sema_spark.plans.pipeline as p

        for fn_name, layer in PIPELINE_STAGES.items():
            original = getattr(p, fn_name)

            def wrapped(*args, _original=original, _layer=layer, **kwargs):
                if self.phase is None:
                    return _original(*args, **kwargs)
                with self.span(f"{self.phase}.{_layer}"):
                    return _original(*args, **kwargs)

            setattr(p, fn_name, functools.wraps(original)(wrapped))

    def patch_encoder(self) -> None:
        """Span ``encoder.query`` around ``functions.encoder.encode_query``
        (imported by name inside ``semantic_search`` at call time)."""
        if not self.enabled:
            return
        import sema_spark.functions.encoder as e

        original = e.encode_query

        @functools.wraps(original)
        def wrapped(text):
            with self.span("encoder.query"):
                return original(text)

        e.encode_query = wrapped

    # ------------------------------------------------------------- report
    def layer_metrics(self, event_dir: str, spans) -> dict[str, float]:
        """Per-span fields from the event log of the stopped session."""
        stats = parse_event_log(event_dir)
        out: dict[str, float] = {}
        for name, fields in spans:
            s = stats.get(name, {})
            for field in fields:
                if field == "self_s":
                    out[f"{name}.self_s"] = round(self.self_s(name), 6)
                elif field == "executor_s":
                    out[f"{name}.executor_s"] = round(s.get("executor_ms", 0) / 1000.0, 3)
                elif field == "shuffle_mb":
                    out[f"{name}.shuffle_mb"] = round(s.get("shuffle_bytes", 0) / 1e6, 4)
                else:
                    out[f"{name}.{field}"] = s.get(field, 0)
        return out


def parse_event_log(event_dir: str) -> dict[str, dict[str, float]]:
    """Jobs, single-task stages, task run time and shuffle bytes written,
    keyed by the job group each job was submitted under."""
    files = [f for f in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {len(files)}")
    stage_group: dict[int, str | None] = {}
    stats: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(_GROUP)
                stats[group]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_group[info["Stage ID"]] = (ev.get("Properties") or {}).get(_GROUP)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Number of Tasks") == 1:
                    stats[stage_group.get(info["Stage ID"])]["single_task_stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                metrics = ev.get("Task Metrics") or {}
                s = stats[stage_group.get(ev.get("Stage ID"))]
                s["executor_ms"] += metrics.get("Executor Run Time", 0)
                shuffle = metrics.get("Shuffle Write Metrics") or {}
                s["shuffle_bytes"] += shuffle.get("Shuffle Bytes Written", 0)
    return {k: dict(v) for k, v in stats.items()}
