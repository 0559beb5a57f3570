"""Per-layer metrics of a traced run, from the benchmark's spans and
Spark's event log.

A stage layer is one pipeline stage (one job group per pass).  Its
fields, per pass:

- ``wall_s``: the stage's wall (the ``run_stage`` span; for dedup, the pass)
- ``driver_s``: the part of ``wall_s`` with no job of the stage running
- ``plan_s``: time inside the layer's public calls (``trace.LAYER_OF_SPAN``)
- ``jobs``, ``tasks``, ``task_run_s``, ``task_cpu_s``, ``shuffle_bytes``
  (written), ``spill_bytes`` (to disk), ``python_s`` and
  ``python_bytes``: sums over the stage's job group in the event log.

Every per-pass value is the median over the traced passes after the
first (all traced passes when there is only one).  A layer that a
workload does not run reports 0.
"""

from __future__ import annotations

import statistics

from eventlog import EventLog, GroupStats, covered
from spans import LAYER_OF_SPAN, Span, Tracer, stage_group

STAGE_LAYERS = {
    "sentences": "operators.parser",
    "candidates": "operators.candidates",
    "label_matrix": "functions.labeling",
    "marginals": "labelmodel",
    "triples": "operators.canonicalize",
    "dedup": "operators.dedup",
}
STAGE_FIELDS = {
    "wall_s": "s",
    "driver_s": "s",
    "plan_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "python_s": "s",
    "python_bytes": "bytes",
}
OTHER_METRICS = {
    "labelmodel.encoding_s": "s",
    "labelmodel.fit_s": "s",
    "operators.dedup.cc_s": "s",
    "operators.dedup.cc_jobs": "count",
    "storage.write_s": "s",
    "storage.read_s": "s",
    "storage.footer_s": "s",
    "storage.lineage_s": "s",
    "storage.bytes_written": "bytes",
    "storage.files_written": "count",
    "plans.pipeline.stages_run": "count",
    "plans.pipeline.stages_skipped": "count",
    "session.jvm_start_s": "s",
    "session.warm_python_s": "s",
    "session.warm_engine_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "first_pass_s": "s",
}
PER_LAYER_UNITS = {
    **{f"{layer}.{f}": u for layer in STAGE_LAYERS.values() for f, u in STAGE_FIELDS.items()},
    **OTHER_METRICS,
}

RUN_STAGE = "plans.pipeline.PipelineContext.run_stage"
LINEAGE_SPANS = {
    "storage.Catalog.lineage",
    "storage.Catalog.log_lineage",
    "storage.Catalog.log_metrics",
    "storage.Catalog.exists",
}


def _sum(spans, name: str) -> float:
    return sum(s.seconds for s in spans if s.name == name)


def _stage_fields(window: tuple[float, float], g: GroupStats, plan_s: float) -> dict:
    lo, hi = window
    return {
        "wall_s": hi - lo,
        "driver_s": (hi - lo) - covered(g.intervals, lo, hi),
        "plan_s": plan_s,
        "jobs": g.jobs,
        "tasks": g.tasks,
        "task_run_s": g.task_run_s,
        "task_cpu_s": g.task_cpu_s,
        "shuffle_bytes": g.shuffle_bytes,
        "spill_bytes": g.spill_bytes,
        "python_s": g.python_s,
        "python_bytes": g.python_bytes,
    }


def pass_metrics(spans: list[Span], pass_span: Span, log: EventLog, pass_idx: int,
                 dedup_group: str | None) -> dict[str, float]:
    """Layer metrics of one traced pass."""
    out = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    # plan_s: outermost layer calls only, so nested calls count once
    plan = dict.fromkeys(STAGE_LAYERS.values(), 0.0)
    for s in spans:
        layer = LAYER_OF_SPAN.get(s.name)
        if layer and LAYER_OF_SPAN.get(s.parent) != layer:
            plan[layer] += s.seconds
    windows = {s.attrs["stage"]: (s.start, s.end) for s in spans if s.name == RUN_STAGE}
    if dedup_group:
        windows[dedup_group] = (pass_span.start, pass_span.end)
    for stage, window in windows.items():
        layer = STAGE_LAYERS[stage]
        g = log.groups.get(stage_group(stage, pass_idx), GroupStats())
        for f, v in _stage_fields(window, g, plan[layer]).items():
            out[f"{layer}.{f}"] = v
    jobs = [(j.start, j.end) for j in log.jobs if j.end is not None]
    storage = [s for s in spans if s.name.startswith("storage.")]
    top = [s for s in storage if not (s.parent or "").startswith("storage.")]
    writes = [s for s in storage if s.name == "storage.Catalog.write"]
    cc = [s for s in spans if s.name == "operators.dedup.connected_components"]
    stages = [s for s in spans if s.name == RUN_STAGE]
    out.update({
        "labelmodel.encoding_s": _sum(spans, "labelmodel.encoding.compute_O_arrow"),
        "labelmodel.fit_s": _sum(spans, "labelmodel.model.LabelModel.fit"),
        "operators.dedup.cc_s": sum(s.seconds for s in cc),
        "operators.dedup.cc_jobs": sum(len(log.jobs_between(s.start, s.end)) for s in cc),
        "storage.write_s": sum(s.seconds - covered(jobs, s.start, s.end) for s in writes),
        "storage.read_s": _sum(top, "storage.Catalog.read"),
        "storage.footer_s": _sum(top, "storage.Catalog.file_metrics"),
        "storage.lineage_s": sum(s.seconds for s in top if s.name in LINEAGE_SPANS),
        "storage.bytes_written": sum(s.attrs["bytes"] for s in writes),
        "storage.files_written": sum(s.attrs["files"] for s in writes),
        "plans.pipeline.stages_run": sum(not s.attrs["skipped"] for s in stages),
        "plans.pipeline.stages_skipped": sum(s.attrs["skipped"] for s in stages),
    })
    return out


def layer_metrics(tracer: Tracer, log: EventLog, pass_spans: dict[int, Span],
                  dedup_group: str | None, traced_pass_s: float,
                  untraced_pass_s: float) -> dict[str, float]:
    """Median per-pass layer metrics plus the session and trace metrics."""
    idx = [i for i in sorted(pass_spans) if i > 0] or sorted(pass_spans)
    per_pass = [
        pass_metrics(tracer.pass_spans(i), pass_spans[i], log, i, dedup_group) for i in idx
    ]
    out = {k: statistics.median(p[k] for p in per_pass) for k in PER_LAYER_UNITS}
    setup = [s for s in tracer.spans if s.pass_idx is None]
    get_spark = _sum(setup, "session.get_spark")
    warm_py = _sum(setup, "session._warm_python_workers")
    warm_engine = _sum(setup, "session._warm_engine")
    out.update({
        "session.jvm_start_s": get_spark - warm_py - warm_engine,
        "session.warm_python_s": warm_py,
        "session.warm_engine_s": warm_engine,
        "trace.overhead_s": traced_pass_s - untraced_pass_s,
    })
    return out
