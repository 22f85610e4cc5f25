"""Connected components: the driver-first path, the distributed fallback
(contraction, post-contraction stitch, hash-min with pointer doubling),
their row-for-row parity, and the non-convergence guard."""

from __future__ import annotations

import random

import pytest

from tabiya_livelihoods_classifier_spark.operators import clustering


def _chain_edges(spark, n):
    rows = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)]
    return spark.createDataFrame(rows, "id_a string, id_b string")


def test_driver_stitch_path_chain(spark):
    out = {
        r.rid: r.component
        for r in clustering.connected_components(_chain_edges(spark, 12)).collect()
    }
    assert set(out.values()) == {"n000"}
    assert len(out) == 12


def test_distributed_fallback_engages_and_matches(spark, monkeypatch):
    # byte budget 0 forces the hash-min loop; pointer doubling converges a
    # 40-node chain well inside max_iter
    monkeypatch.setattr(clustering, "DRIVER_STITCH_MAX_BYTES", 0)
    out = {
        r.rid: r.component
        for r in clustering.connected_components(_chain_edges(spark, 40)).collect()
    }
    assert set(out.values()) == {"n000"}
    assert len(out) == 40


def test_nonconvergence_raises(spark, monkeypatch):
    monkeypatch.setattr(clustering, "DRIVER_STITCH_MAX_BYTES", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        clustering.connected_components(_chain_edges(spark, 60), max_iter=1)


def test_isolated_nodes_are_singletons(spark):
    edges = spark.createDataFrame(
        [("a", "b")], "id_a string, id_b string"
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("z",)], "rid string")
    out = {
        r.rid: r.component
        for r in clustering.connected_components(edges, nodes=nodes).collect()
    }
    assert out == {"a": "a", "b": "a", "z": "z"}


def _deep_chain(spark):
    """A 10-node chain behind a stack of self-joins standing in for the ER
    pipeline's records->signatures->blocking->scoring lineage."""
    from pyspark.sql import functions as F

    deep = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(9)],
        "id_a string, id_b string",
    )
    for tag in ("x", "y", "z"):
        other = deep.select(
            F.col("id_a").alias(f"{tag}_a"), F.col("id_b").alias(f"{tag}_b")
        )
        deep = (
            deep.join(other, deep.id_a == other[f"{tag}_a"], "left")
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
    return deep


def test_output_plan_is_lineage_truncated(spark, monkeypatch):
    """Guard the reliable-checkpoint contract: the returned frame's
    optimized plan must scan checkpointed RDDs, not replay the caller's
    upstream lineage. persist() is NOT equivalent — it keeps the full
    logical plan, and Catalyst re-optimizing a deep ER plan on every
    downstream action measured 156 s (vs ~1.5 s truncated) for the
    clusters stage at bench4/local[8]. The byte budget 0 forces the
    distributed path, the only one that checkpoints."""
    monkeypatch.setattr(clustering, "DRIVER_STITCH_MAX_BYTES", 0)
    deep = _deep_chain(spark)
    out = clustering.connected_components(deep)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # composition = checkpointed l1 join broadcast rep: LogicalRDD scans
    # (checkpoint barriers) and at most the one composition join survive
    assert "LogicalRDD" in plan
    assert plan.count("Join") <= 1, plan
    out_map = {r.rid: r.component for r in out.collect()}
    assert set(out_map.values()) == {"n000"} and len(out_map) == 10


def test_driver_path_output_plan_is_local(spark):
    """The driver path's result is data, not a plan: one LocalRelation, and
    no trace of the caller's upstream joins."""
    out = clustering.connected_components(_deep_chain(spark))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan, plan
    assert plan.count("Join") == 0, plan
    out_map = {r.rid: r.component for r in out.collect()}
    assert set(out_map.values()) == {"n000"} and len(out_map) == 10


def _random_graph(seed, id_type):
    """Edges with duplicates and self-loops; nodes with isolated and
    duplicated vertices."""
    rng = random.Random(seed)
    ids = (
        [f"v{i:02d}" for i in range(40)]
        if id_type == "string"
        else [10_000_000_000 + 7 * i for i in range(40)]
    )
    edges = [tuple(rng.sample(ids[:30], 2)) for _ in range(25)]
    edges += rng.sample(edges, 5)  # duplicates
    edges += [(v, v) for v in rng.sample(ids[:30], 3)]  # self-loops
    nodes = [(v,) for v in rng.sample(ids, 15)] + [(ids[-1],)] * 2
    return edges, nodes


def _components(spark, edges, nodes, id_type):
    e = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
    n = spark.createDataFrame(nodes, f"rid {id_type}")
    out = clustering.connected_components(e, nodes=n)
    return out.dtypes, sorted(out.collect())


def _forced_distributed(monkeypatch, fn):
    with monkeypatch.context() as m:
        m.setattr(clustering, "DRIVER_STITCH_MAX_BYTES", 0)
        return fn()


@pytest.mark.parametrize(
    "seed,id_type", [(1, "string"), (2, "string"), (3, "bigint"), (4, "bigint")]
)
def test_driver_path_matches_distributed_row_for_row(
    spark, monkeypatch, seed, id_type
):
    edges, nodes = _random_graph(seed, id_type)
    driver = _components(spark, edges, nodes, id_type)
    dist = _forced_distributed(
        monkeypatch, lambda: _components(spark, edges, nodes, id_type)
    )
    assert driver == dist
    assert len({r.rid for r in driver[1]}) == len(driver[1])  # once each


def test_empty_edges_nonempty_nodes_match(spark, monkeypatch):
    nodes = [("b",), ("a",), ("a",)]
    driver = _components(spark, [], nodes, "string")
    dist = _forced_distributed(
        monkeypatch, lambda: _components(spark, [], nodes, "string")
    )
    assert driver == dist
    assert [tuple(r) for r in driver[1]] == [("a", "a"), ("b", "b")]


def test_edges_fit_but_nodes_do_not_take_fallback(spark, monkeypatch):
    calls = []
    distributed = clustering._distributed_components

    def spy(*args):
        calls.append(args)
        return distributed(*args)

    monkeypatch.setattr(clustering, "_distributed_components", spy)
    monkeypatch.setattr(clustering, "_PROBE_ROWS", 5)
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    nodes = [(f"z{i}",) for i in range(8)] + [("a",)]
    _, rows = _components(spark, edges, nodes, "string")
    assert len(calls) == 1
    expected = {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    expected.update({f"z{i}": f"z{i}" for i in range(8)})
    assert dict(rows) == expected
