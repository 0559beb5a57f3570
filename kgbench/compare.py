#!/usr/bin/env python3
"""Collect and compare result sets of the benchmark.

A result set is a directory holding ``<workload>/seed<N>.json`` files,
each the last stdout line of one ``run.py`` run.

    # run every workload once per seed (untraced) into a result set
    python3 kgbench/compare.py collect OUT --seeds 1-10 [--workload W ...]

    # median, quartiles and IQR/median spread of one set
    python3 kgbench/compare.py summary SET

    # per (workload, end-to-end metric): both sets' median and
    # quartiles, and a verdict for B against A under BENCHMARK.json's bounds
    python3 kgbench/compare.py diff SET_A SET_B

Verdicts (``d`` is B's median change against A's, as a share of A's
median, positive when B is better; ``spread`` is the larger IQR/median
of the two sets):

- ``worse``: ``d < -bound``
- ``better``: ``d > spread`` and the interquartile ranges do not overlap
- ``unresolved``: otherwise, when ``spread > bound``
- ``within-bound``: otherwise
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def collect(out: str, workloads: list[str], seeds: list[int], seconds: int) -> int:
    failures = 0
    for seed in seeds:
        for w in workloads:
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{w} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                failures += 1
                continue
            os.makedirs(os.path.join(out, w), exist_ok=True)
            with open(os.path.join(out, w, f"seed{seed}.json"), "w") as f:
                f.write(lines[-1] + "\n")
            print(f"{w} seed {seed}: {lines[-1]}", flush=True)
    return 1 if failures else 0


def load_set(path: str) -> dict[str, dict[str, list[float]]]:
    """workload → metric → values, over every result file of the set."""
    out: dict[str, dict[str, list[float]]] = {}
    for w in sorted(os.listdir(path)):
        for name in sorted(os.listdir(os.path.join(path, w))):
            with open(os.path.join(path, w, name)) as f:
                result = json.loads(f.read().strip().splitlines()[-1])
            for k, v in result["metrics"].items():
                out.setdefault(w, {}).setdefault(k, []).append(float(v["value"]))
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def verdict(a: list[float], b: list[float], better: str, bound: float) -> str:
    a1, a2, a3 = quartiles(a)
    b1, b2, b3 = quartiles(b)
    sign = 1 if better == "lower" else -1
    d = sign * (a2 - b2) / a2
    noise = max(spread(a), spread(b))
    apart = b3 < a1 if better == "lower" else b1 > a3
    if d < -bound:
        return "worse"
    if d > noise and apart:
        return "better"
    if noise > bound:
        return "unresolved"
    return "within-bound"


def _fmt(values: list[float]) -> str:
    q1, q2, q3 = quartiles(values)
    return f"{q2:.4g} [{q1:.4g}, {q3:.4g}]"


def summary(path: str) -> int:
    spec = {m["name"]: m for m in load_spec()["end_to_end"]}
    for w, metrics in load_set(path).items():
        for k, vals in metrics.items():
            bound = spec[k]["bound"] if k in spec else float("nan")
            s = spread(vals)
            flag = "" if s <= bound / 3 else ("  > bound/3" if s <= bound else "  > BOUND")
            print(f"{w:14s} {k:14s} n={len(vals):2d} median [q1, q3] = {_fmt(vals):32s}"
                  f" spread {s:.4f} (bound {bound}){flag}")
    return 0


def diff(path_a: str, path_b: str) -> int:
    spec = load_spec()
    a, b = load_set(path_a), load_set(path_b)
    worse = 0
    for w in sorted(set(a) | set(b)):
        for m in spec["end_to_end"]:
            k = m["name"]
            va, vb = a.get(w, {}).get(k), b.get(w, {}).get(k)
            if not va or not vb:
                print(f"{w:14s} {k:14s} missing in {'A' if not va else 'B'}")
                continue
            v = verdict(va, vb, m["better"], m["bound"])
            worse += v == "worse"
            print(f"{w:14s} {k:14s} A {_fmt(va):32s} B {_fmt(vb):32s} {v}")
    return 1 if worse else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workload", action="append")
    s = sub.add_parser("summary")
    s.add_argument("set")
    d = sub.add_parser("diff")
    d.add_argument("set_a")
    d.add_argument("set_b")
    args = ap.parse_args(argv)
    if args.cmd == "collect":
        spec = load_spec()
        workloads = args.workload or [w["name"] for w in spec["workloads"]]
        return collect(args.out, workloads, parse_seeds(args.seeds), spec["run_seconds"])
    if args.cmd == "summary":
        return summary(args.set)
    return diff(args.set_a, args.set_b)


if __name__ == "__main__":
    sys.exit(main())
