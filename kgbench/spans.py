"""Spans around the calls into each snorkel_spark module, recorded from
the benchmark's own code.

``Tracer.install`` replaces the public functions and methods listed in
``PATCH_POINTS`` with wrappers that time each call; ``uninstall``
puts the originals back.  The program looks these names up at call
time (``run_kg_pipeline`` imports its operators inside the function
body; ``dedup`` calls ``connected_components`` through its module
globals), so the wrappers see every call without any change to the
package.  Spans stay in memory until the run ends.

``PipelineContext.run_stage`` also sets one Spark job group per stage
and pass (``"<stage>#<pass>"``), which the event-log reader uses to
attribute jobs, tasks and SQL metrics to each stage.
"""

from __future__ import annotations

import importlib
import os
import time
from dataclasses import dataclass, field

# (module, attribute path) → layer whose plan_s the call counts toward;
# None marks spans that feed other metrics only.
PATCH_POINTS: dict[tuple[str, str], str | None] = {
    ("snorkel_spark.session", "get_spark"): None,
    ("snorkel_spark.session", "_warm_python_workers"): None,
    ("snorkel_spark.session", "_warm_engine"): None,
    ("snorkel_spark.plans.pipeline", "PipelineContext.run_stage"): None,
    ("snorkel_spark.storage", "Catalog.write"): None,
    ("snorkel_spark.storage", "Catalog.read"): None,
    ("snorkel_spark.storage", "Catalog.exists"): None,
    ("snorkel_spark.storage", "Catalog.file_metrics"): None,
    ("snorkel_spark.storage", "Catalog.lineage"): None,
    ("snorkel_spark.storage", "Catalog.log_lineage"): None,
    ("snorkel_spark.storage", "Catalog.log_metrics"): None,
    ("snorkel_spark.sources.interleaved", "synthesize_raw_documents"): "operators.parser",
    ("snorkel_spark.operators.parser", "parse_sentences"): "operators.parser",
    ("snorkel_spark.operators.matchers", "person_matcher"): "operators.candidates",
    ("snorkel_spark.operators.ngrams", "ngram_mentions"): "operators.candidates",
    ("snorkel_spark.operators.candidates", "extract_candidates"): "operators.candidates",
    ("snorkel_spark.functions.labeling", "apply_lfs"): "functions.labeling",
    ("snorkel_spark.labelmodel.encoding", "compute_O_arrow"): "labelmodel",
    ("snorkel_spark.labelmodel.model", "LabelModel.fit"): "labelmodel",
    ("snorkel_spark.labelmodel.model", "LabelModel.marginals"): "labelmodel",
    ("snorkel_spark.operators.linker", "link_text_map"): "operators.canonicalize",
    ("snorkel_spark.operators.canonicalize", "canonical_triples"): "operators.canonicalize",
    ("snorkel_spark.operators.dedup", "cluster_representatives"): "operators.dedup",
    ("snorkel_spark.operators.dedup", "connected_components"): "operators.dedup",
}


def span_name(module: str, attr: str) -> str:
    return f"{module.removeprefix('snorkel_spark.')}.{attr}"


LAYER_OF_SPAN = {span_name(m, a): layer for (m, a), layer in PATCH_POINTS.items() if layer}


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock the event log uses
    end: float
    parent: str | None
    pass_idx: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.pass_idx: int | None = None
        self._stack: list[str] = []
        self._restore: list[tuple[object, str, object]] = []

    # ---- recording ------------------------------------------------
    def call(self, name: str, fn, args, kwargs):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            result = fn(*args, **kwargs)
        finally:
            end = time.time()
            self._stack.pop()
        span = Span(name, start, end, parent, self.pass_idx)
        self.spans.append(span)
        return span, result

    def pass_spans(self, pass_idx: int) -> list[Span]:
        return [s for s in self.spans if s.pass_idx == pass_idx]

    # ---- patching -------------------------------------------------
    def _wrapper(self, name: str, fn):
        after = _AFTER.get(name)
        before = _BEFORE.get(name)

        def traced(*args, **kwargs):
            state = before(self, args, kwargs) if before else None
            try:
                span, result = self.call(name, fn, args, kwargs)
            finally:
                if before:
                    set_group(state, None)
            if after:
                after(span, args, kwargs, result)
            return result

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for (module, attr), _layer in PATCH_POINTS.items():
            owner = importlib.import_module(module)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            fn = owner.__dict__[leaf] if isinstance(owner, type) else getattr(owner, leaf)
            self._restore.append((owner, leaf, fn))
            setattr(owner, leaf, self._wrapper(span_name(module, attr), fn))

    def uninstall(self) -> None:
        while self._restore:
            owner, leaf, fn = self._restore.pop()
            setattr(owner, leaf, fn)


def stage_group(stage: str, pass_idx: int | None) -> str:
    return f"{stage}#{pass_idx}"


def set_group(spark, group: str | None):
    """Tag the jobs this thread submits with ``group`` (None clears)."""
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)
    return spark


def _before_run_stage(tracer: Tracer, args, kwargs):
    ctx, stage = args[0], (args[1] if len(args) > 1 else kwargs["stage"])
    return set_group(ctx.spark, stage_group(stage, tracer.pass_idx))


def _after_run_stage(span: Span, args, kwargs, result) -> None:
    span.attrs["stage"] = args[1] if len(args) > 1 else kwargs["stage"]
    span.attrs["skipped"] = bool(result[2])


def _after_write(span: Span, args, kwargs, result) -> None:
    catalog, table = args[0], (args[2] if len(args) > 2 else kwargs["table"])
    files, size = _dir_usage(os.path.join(catalog.root, table, f"snapshot={result}"))
    span.attrs["files"] = files
    span.attrs["bytes"] = size


_BEFORE = {"plans.pipeline.PipelineContext.run_stage": _before_run_stage}
_AFTER = {
    "plans.pipeline.PipelineContext.run_stage": _after_run_stage,
    "storage.Catalog.write": _after_write,
}
