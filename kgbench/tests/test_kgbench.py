"""Self-tests of the benchmark's own code.

    python -m pytest kgbench/tests -q

The smoke tests start Spark sessions (about five minutes on 4 CPUs);
deselect them with ``-m 'not smoke'``.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

KGBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(KGBENCH)
sys.path.insert(0, KGBENCH)

from eventlog import covered, read_event_log_file  # noqa: E402
from layers import PER_LAYER_UNITS, pass_metrics  # noqa: E402
from run import E2E_UNITS  # noqa: E402
from spans import Span  # noqa: E402

FRAGMENT = os.path.join(KGBENCH, "tests", "data", "eventlog_fragment.jsonl")
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_event_log_fragment_per_group_totals():
    log = read_event_log_file(FRAGMENT)
    s = log.groups["sentences#0"]
    # job 9 lists stages 11 and 12; stage 11 was skipped, so 3 stages ran
    assert (s.jobs, s.stages, s.tasks) == (3, 3, 4)
    assert s.python_s == pytest.approx(0.718 + 0.765)
    assert s.python_bytes == 44168 + 49608
    assert s.shuffle_bytes == 2116 + 2211
    assert s.spill_bytes == 0
    assert 0 < s.task_cpu_s < s.task_run_s
    o = log.groups["other#0"]
    assert (o.jobs, o.stages, o.tasks, o.shuffle_bytes, o.python_s) == (2, 2, 9, 8 * 59, 0)
    assert [j.job_id for j in log.jobs] == [7, 8, 9, 10, 11]
    assert all(j.end >= j.start for j in log.jobs)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == pytest.approx(1.0)
    assert covered([], 0, 1) == 0
    assert covered([(3, 4)], 0, 1) == 0


def test_driver_plus_job_time_equals_wall():
    log = read_event_log_file(FRAGMENT)
    jobs = [j for j in log.jobs if j.group == "sentences#0"]
    lo, hi = jobs[0].start - 0.4, jobs[-1].end + 0.25
    stage = Span("plans.pipeline.PipelineContext.run_stage", lo, hi, None, 0,
                 {"stage": "sentences", "skipped": False})
    parse = Span("operators.parser.parse_sentences", lo + 0.1, lo + 0.2, stage.name, 0)
    m = pass_metrics([stage, parse], stage, log, 0, None)
    job_active = sum(j.end - j.start for j in jobs)  # these jobs do not overlap
    assert m["operators.parser.wall_s"] == pytest.approx(hi - lo)
    assert m["operators.parser.driver_s"] + job_active == pytest.approx(
        m["operators.parser.wall_s"], abs=1e-6)
    assert m["operators.parser.plan_s"] == pytest.approx(0.1, abs=1e-6)
    assert m["operators.parser.jobs"] == 3
    assert m["plans.pipeline.stages_run"] == 1
    assert m["operators.dedup.wall_s"] == 0


def test_marginal_check_rejects_an_all_positive_label_model():
    from workloads import MARGINAL_PR_MIN, marginal_pr

    gold = {f"c{i}": (1 if i % 4 == 0 else -1) for i in range(100)}
    exact = {c: (0.9 if y == 1 else 0.1) for c, y in gold.items()}
    assert marginal_pr(exact, gold) == (1.0, 1.0)
    all_positive = dict.fromkeys(gold, 0.9)
    precision, recall = marginal_pr(all_positive, gold)
    assert recall == 1.0 and precision == pytest.approx(0.25)
    assert precision < MARGINAL_PR_MIN
    # candidates outside the gold set are not scored, as in score_marginals
    assert marginal_pr({**exact, "extra": 0.9}, gold) == (1.0, 1.0)


def test_metric_names_and_counts():
    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == E2E_UNITS
    assert layer == PER_LAYER_UNITS
    assert len(e2e) <= 16 and len(layer) <= 128
    names = [w["name"] for w in spec["workloads"]] + list(e2e) + list(layer)
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64 and n[0].isalnum(), n
    for u in list(e2e.values()) + list(layer.values()):
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", u), u
    e2e_bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in e2e_bound.values())
    assert e2e_bound["setup_s"] == max(e2e_bound.values())


@pytest.mark.smoke
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_pass_of_every_workload(workload, trace):
    from run import run_workload

    result = run_workload(workload, seed=7, seconds=0, trace=trace, corpus="sf0.001")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 4
    units = PER_LAYER_UNITS if trace else E2E_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        layer = "operators.dedup" if workload == "curate_dedup" else "operators.parser"
        assert values[f"{layer}.jobs"] > 0
        assert 0 <= values[f"{layer}.driver_s"] <= values[f"{layer}.wall_s"]
        assert values["session.jvm_start_s"] > 0
    else:
        assert values["triple_f1"] == 1.0
        assert all(v > 0 for v in values.values())
