"""Transitive ancestor closure: the driver-first path against the
checkpointed pointer-doubling fallback, row for row."""

from __future__ import annotations

import pytest

from tabiya_livelihoods_classifier_spark.operators import clustering, graph


def _closure(spark, edges, id_type="string"):
    e = spark.createDataFrame(edges, f"child {id_type}, parent {id_type}")
    out = graph.transitive_ancestors(e)
    return out.dtypes, sorted(out.collect())


def _reference(edges):
    parents: dict = {}
    for c, p in edges:
        parents.setdefault(c, set()).add(p)
    out = set()
    for node in parents:
        frontier, seen = set(parents[node]), set()
        while frontier:
            seen |= frontier
            frontier = {p for a in frontier for p in parents.get(a, ())} - seen
        out |= {(node, a) for a in seen}
    return sorted(out)


_DAG = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"), ("a", "b")]
_CYCLE = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
_CHAIN = [(i, i + 1) for i in range(40)]


@pytest.mark.parametrize(
    "edges,id_type",
    [(_DAG, "string"), (_CYCLE, "string"), (_CHAIN, "bigint")],
    ids=["dag", "cycle", "long_chain"],
)
def test_driver_closure_matches_doubling_loop(spark, monkeypatch, edges, id_type):
    driver = _closure(spark, edges, id_type)
    with monkeypatch.context() as m:
        m.setattr(clustering, "DRIVER_STITCH_MAX_BYTES", 0)
        doubling = _closure(spark, edges, id_type)
    assert driver == doubling
    assert [tuple(r) for r in driver[1]] == _reference(edges)


def test_closure_over_budget_mid_way_falls_back(spark, monkeypatch):
    # 40 edges (~4 KB estimated) fit the budget; their 820-row closure
    # (~85 KB) does not, so the driver DFS gives up and the loop answers
    calls = []
    doubling = graph._doubling_closure

    def spy(*args):
        calls.append(args)
        return doubling(*args)

    monkeypatch.setattr(graph, "_doubling_closure", spy)
    monkeypatch.setattr(clustering, "DRIVER_STITCH_MAX_BYTES", 20_000)
    _, rows = _closure(spark, _CHAIN, "bigint")
    assert len(calls) == 1
    assert [tuple(r) for r in rows] == _reference(_CHAIN)


def test_driver_closure_output_is_local(spark):
    e = spark.createDataFrame(_DAG, "child string, parent string")
    plan = graph.transitive_ancestors(e)._jdf.queryExecution().optimizedPlan()
    assert "LocalRelation" in plan.toString()
