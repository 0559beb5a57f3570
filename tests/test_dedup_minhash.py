"""MinHash signature parity with the DuckDB twin, the capped-LSH plan
shape, and oracle replays of the two clustering contract queries."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from tests.conftest import SF

EDGE_TEXTS = {
    "empty": "",
    "short": "alpha beta",
    "repeated": "x y x y x y x y x y",
    "regex": r"a.b (c)* [d]+ ^$ \\ | ? {2} a.b (c)*",
    "nbsp": "foo\u00a0bar baz\u00a0qux foo\u00a0bar",
    "double_space": "one  two   three four",
    "plain": "the quick brown fox jumps over the lazy dog",
    "null": None,
}


@pytest.mark.parametrize("n_hashes", [32, 128])
@pytest.mark.parametrize("shingle_n", [1, 3])
def test_md5_signature_matches_duckdb_twin(spark, shingle_n, n_hashes):
    """Spark's md5 signature equals the DuckDB twin's ``sigs`` CTE per
    doc on edge texts; a null text gives n_hashes nulls."""
    from __spark_entry__ import _minhash_cte_sql
    from snorkel_spark.operators.dedup import minhash_signatures

    rows = list(EDGE_TEXTS.items())
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(docs, n_hashes, shingle_n, "md5").collect()
    }

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    cte = _minhash_cte_sql(n_hashes, n_hashes // 4, shingle_n, 64)
    want = {
        d: list(s) for d, s in con.execute(f"WITH {cte} SELECT doc_id, sig FROM sigs").fetchall()
    }
    con.close()

    assert got == want
    assert got["null"] == [None] * n_hashes
    assert all(len(s) == n_hashes for s in got.values())
    assert None not in got["plain"]


def _children(node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _walk(node, ancestors=()):
    """(node, ancestors) over a physical plan, through AQE stages and
    reused exchanges; works for expression trees too."""
    yield node, ancestors
    for child in _children(node):
        yield from _walk(child, ancestors + (node,))


def _expressions(plan_node):
    seq = plan_node.expressions()
    return [seq.apply(i) for i in range(seq.size())]


def _name(obj):
    return obj.getClass().getSimpleName()


def test_capped_lsh_plan_evaluates_signature_once(spark):
    """Executed plan of capped ngram_jaccard_pairs: the md5 signature is
    evaluated in one plan node, below the plan's only band_key
    exchange, and no lambda body rebuilds the shingle set."""
    from snorkel_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = ngram_jaccard_pairs(docs, threshold=0.5, n_hashes=32, n_bands=16)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()

    md5_nodes, band_exchanges, lambda_bodies = [], [], []
    for node, ancestors in _walk(plan):
        if _name(node) == "ShuffleExchangeExec" and "band_key" in (
            node.outputPartitioning().toString()
        ):
            band_exchanges.append(node)
        exprs = [e for root in _expressions(node) for e, _ in _walk(root)]
        if any(_name(e) == "Md5" for e in exprs):
            md5_nodes.append((node, ancestors))
        lambda_bodies += [e.function() for e in exprs if _name(e) == "LambdaFunction"]

    assert len(band_exchanges) == 1, [e.toString() for e in band_exchanges]
    assert len(md5_nodes) == 1, [n.nodeName() for n, _ in md5_nodes]
    _, ancestors = md5_nodes[0]
    assert any(a.equals(band_exchanges[0]) for a in ancestors)
    assert lambda_bodies
    for body in lambda_bodies:
        assert not any(_name(e) == "ArrayDistinct" for e, _ in _walk(body)), body.sql()


@pytest.mark.parametrize("name", ["dd_duplicate_clusters", "dd_cluster_reps"])
def test_clustering_contract_replay(spark, name):
    """The two clustering contract queries agree with their DuckDB
    oracles under the contract's canonical comparison."""
    import __spark_entry__ as E
    from tools.check_contract import canon

    sdf = E.queries()[name](spark, SF).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    ddf = con.execute(E.oracle_sql()[name]).df()
    con.close()
    assert len(sdf) > 0
    assert canon(sdf) == canon(ddf)
