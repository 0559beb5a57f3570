"""The benchmark workloads: input preparation, one timed pass, and the
check of every pass's output against an independently computed answer.

Each workload runs closed loop from one client: a pass starts when the
previous one has returned, with no think time.
"""

from __future__ import annotations

import os
import shutil
import time

from inputs import write_documents

# the bar tests/test_pipeline.py sets for label-model decisions
MARGINAL_PR_MIN = 0.95


def f1(got: set, want: set) -> float:
    tp = len(got & want)
    if not tp:
        return 0.0
    precision, recall = tp / len(got), tp / len(want)
    return 2 * precision * recall / (precision + recall)


def marginal_pr(prob_true: dict, gold: dict, b: float = 0.5) -> tuple[float, float]:
    """Precision and recall of ``prob_true > b`` against gold labels
    (1 / -1) over the candidates both cover, as ``score_marginals``."""
    tp = fp = fn = 0
    for cid, label in gold.items():
        if cid not in prob_true:
            continue
        pos = prob_true[cid] > b
        tp += pos and label == 1
        fp += pos and label == -1
        fn += not pos and label == 1
    return (tp / (tp + fp) if tp + fp else 0.0), (tp / (tp + fn) if tp + fn else 0.0)


class KgPipeline:
    """``run_kg_pipeline`` into a fresh ``Catalog`` per pass, over the
    sf0.1 corpus.  A pass is correct when its triple set equals
    ``fixtures.gold_triples`` and its committed marginals, thresholded at
    0.5, reach precision and recall ``MARGINAL_PR_MIN`` against
    ``fixtures.gold_labels``."""

    name = "kg_sf0.1"
    corpus = "sf0.1"
    stage_group = None  # run_stage sets one job group per pipeline stage

    def __init__(self, work: str, seed: int, corpus: str | None = None) -> None:
        self.work = work
        self.sf_dir, self.n_docs = write_documents(
            os.path.join(work, "input"), corpus or self.corpus, seed)

    def expected(self, spark) -> tuple[set, dict]:
        from snorkel_spark.sources import fixtures as FX

        triples = {tuple(r) for r in FX.gold_triples(spark, self.sf_dir).collect()}
        labels = {r.candidate_id: r.label for r in FX.gold_labels(spark, self.sf_dir).collect()}
        return triples, labels

    def run_pass(self, spark, i: int) -> tuple[float, tuple[set, dict]]:
        from snorkel_spark.plans import pipeline
        from snorkel_spark.storage import Catalog

        root = os.path.join(self.work, f"catalog_{i}")
        try:
            t0 = time.perf_counter()
            info = pipeline.run_kg_pipeline(spark, self.sf_dir, Catalog(root))
            seconds = time.perf_counter() - t0
            triples = {tuple(r) for r in info["triples_df"].select("subj", "pred", "obj").collect()}
            # the committed snapshot, read without Catalog.read so that a
            # traced run does not count this check as storage time
            snap = os.path.join(root, "marginals", f"snapshot={info['marginals']}")
            prob_true = {r.candidate_id: r.prob_true for r in
                         spark.read.parquet(snap).select("candidate_id", "prob_true").collect()}
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return seconds, (triples, prob_true)

    def score(self, out, want) -> tuple[float, bool]:
        """(triple F1, whether the pass is correct)."""
        (triples, prob_true), (gold_triples, gold_labels) = out, want
        precision, recall = marginal_pr(prob_true, gold_labels)
        ok = triples == gold_triples and min(precision, recall) >= MARGINAL_PR_MIN
        return f1(triples, gold_triples), ok


class CurateDedup:
    """``cluster_representatives(threshold=0.5, n_hashes=32, n_bands=16)``
    over the sf0.01 corpus (500 documents); checked against the DuckDB
    twin ``__spark_entry__.oracle_sql()["dd_cluster_reps"]``."""

    name = "curate_dedup"
    corpus = "sf0.01"
    stage_group = "dedup"

    def __init__(self, work: str, seed: int, corpus: str | None = None) -> None:
        sf_dir, self.n_docs = write_documents(
            os.path.join(work, "input"), corpus or self.corpus, seed)
        self.docs_path = os.path.join(sf_dir, "documents.parquet")

    def expected(self, spark) -> set:
        import duckdb

        import __spark_entry__ as entry

        con = duckdb.connect()
        try:
            con.execute("SET enable_progress_bar = false")
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{self.docs_path}/*.parquet')"
            )
            rows = con.execute(
                "SELECT doc_id, cluster_id, doc_len, is_rep FROM ("
                + entry.oracle_sql()["dd_cluster_reps"] + ")"
            ).fetchall()
        finally:
            con.close()
        return {(str(a), str(b), int(c), bool(d)) for a, b, c, d in rows}

    def run_pass(self, spark, i: int) -> tuple[float, set]:
        from snorkel_spark.operators import dedup

        t0 = time.perf_counter()
        rows = dedup.cluster_representatives(
            spark.read.parquet(self.docs_path), threshold=0.5, n_hashes=32, n_bands=16
        ).collect()
        seconds = time.perf_counter() - t0
        return seconds, {(r.doc_id, r.cluster_id, int(r.doc_len), bool(r.is_rep)) for r in rows}

    def score(self, out, want) -> tuple[float, bool]:
        """(row-set F1, whether the pass is correct)."""
        return f1(out, want), out == want


WORKLOADS = {w.name: w for w in (KgPipeline, CurateDedup)}
