"""Plan claims of the two composed heavy-tail registry entries, read from
the physical plan only (the returned frame is never executed):
``pipeline_llm_corpus`` and ``dsir_importance`` shuffle no ``html``
column and plan no BroadcastNestedLoopJoin.
"""

import pytest

from python_web_scraper_cleaner_spark.plans import queries as Q

SF_DIR = "/root/testdata/sf0.001"


def _nodes(plan) -> list:
    """Every physical node under ``plan``: through AQE wrappers, cached
    relations (persisted stages) and subqueries."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        out.append(node)
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
        elif name.startswith("InMemoryTableScan"):
            todo.append(node.relation().cachedPlan())
        subs = node.subqueries()
        todo += [subs.apply(i) for i in range(subs.size())]
    return out


def _columns(node) -> set:
    out = node.output()
    return {out.apply(i).name() for i in range(out.size())}


@pytest.mark.parametrize("entry", ["q_pipeline_llm_corpus",
                                   "q_dsir_importance"])
def test_composed_entry_plan_claims(spark, entry):
    df = getattr(Q, entry)(spark, SF_DIR)
    sc = spark.sparkContext
    group = f"plan-claims-{entry}"
    sc.setJobGroup(group, group)
    try:
        nodes = _nodes(df._jdf.queryExecution().executedPlan())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)
    names = [n.nodeName() for n in nodes]
    assert any("Exchange" in n for n in names)
    assert "BroadcastNestedLoopJoin" not in names
    shuffled = set()
    for ex in (n for n in nodes if "Exchange" in n.nodeName()):
        for below in _nodes(ex):
            shuffled |= _columns(below)
    assert shuffled and "html" not in shuffled
