"""Text-pipeline operators vs DuckDB oracle (sketch ops: sanity checks)."""

import pytest

from hive_spark.operators import text
from tests.oracle_check import compare


@pytest.mark.parametrize(
    "name", sorted(k for k, v in text.REGISTRY.items() if v.oracle)
)
def test_text_oracle(spark, sf_dir, name):
    spec = text.REGISTRY[name]
    compare(spec.fn(spark, sf_dir), spec.oracle, sf_dir)


def test_minhash_lsh_sane(spark, sf_dir):
    rows = text.REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    n_docs = spark.table("documents").count()
    assert len(rows) == n_docs  # O(N) output: one cluster row per doc
    kept = 0
    for r in rows:
        assert r.cluster_id <= r.doc_id
        assert r.kept == (r.cluster_id == r.doc_id)
        kept += int(r.kept)
    assert 0 < kept <= n_docs  # clustering collapses at least nothing, keeps reps


def test_minhash_lsh_single_derivation(spark, sf_dir):
    """r10 opt: the bucket-representative self-join used to run the
    minhash derivation twice (2 documents scans, no ReusedExchange).
    The window rewrite derives once — pin 1 scan and no join in the
    physical plan so a regression back to the double-derivation shape
    fails loudly."""
    nodes = _executed_plan_nodes(
        text.REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir)
    )
    # the old self-join plan had two scan nodes
    assert [n for n in nodes if "Scan" in n] == ["FileSourceScanExec"]
    assert not [n for n in nodes if "Join" in n]
    assert "WindowExec" in nodes


def _executed_plan_nodes(df) -> list[str]:
    """Class names of the nodes of `df`'s executed physical plan, with
    the adaptive wrapper and its query stages unwrapped."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    names, todo = [], [plan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if "QueryStage" in name:
            todo.append(node.plan())
            continue
        names.append(name)
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.length()))
    return names


def test_simhash_sane(spark, sf_dir):
    df = text.REGISTRY["dedup_simhash"].fn(spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    assert all(0 <= r.simhash < (1 << 16) for r in rows)
    # deterministic across runs
    again = text.REGISTRY["dedup_simhash"].fn(spark, sf_dir).collect()
    assert rows == again
