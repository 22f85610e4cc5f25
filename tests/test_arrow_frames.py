"""Driver-made frames cross into the JVM as Arrow, never as pickled rows.

`createDataFrame(<python list>)` goes through `SparkContext.parallelize`:
a pickled-row RDD whose evaluation starts a second Python worker pool next
to the Arrow UDF pool. The query and ER paths build their driver-side
frames with `session.arrow_frame` instead (a LocalRelation). This guard
makes `parallelize` raise and runs the paths that build such frames.
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark import SparkContext

from tabiya_livelihoods_classifier_spark.data.transcripts import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts,
)
from tabiya_livelihoods_classifier_spark.operators.clustering import (
    connected_components,
)
from tabiya_livelihoods_classifier_spark.operators.graph import (
    transitive_ancestors,
)
from tabiya_livelihoods_classifier_spark.plans.queries import QUERIES
from tabiya_livelihoods_classifier_spark.session import arrow_frame
from tabiya_livelihoods_classifier_spark.streaming.incremental_er import (
    ERStateStore,
    commit_er_state,
    incremental_er_update,
)

# the sf0.001 tables the benchmark ships with the checkout
SF = os.environ.get(
    "SPARK_GRAFT_SF_SMALL",
    str(Path(__file__).resolve().parents[1] / "perfbench" / "tables" / "sf0.001"),
)


@pytest.fixture
def no_pickled_rows(monkeypatch):
    def refuse(self, *args, **kwargs):
        raise AssertionError("pickled-row path: SparkContext.parallelize")

    return lambda: monkeypatch.setattr(SparkContext, "parallelize", refuse)


def test_graph_operators_build_no_pickled_rows(spark, no_pickled_rows):
    no_pickled_rows()
    edges = arrow_frame(spark, [("a", "b"), ("b", "c")], "id_a string, id_b string")
    nodes = arrow_frame(spark, [("z",)], "rid string")
    comps = dict(connected_components(edges, nodes=nodes).collect())
    assert comps == {"a": "a", "b": "a", "c": "a", "z": "z"}
    dag = arrow_frame(spark, [(1, 2), (2, 3)], "child bigint, parent bigint")
    assert sorted(transitive_ancestors(dag).collect()) == [(1, 2), (1, 3), (2, 3)]


@pytest.mark.parametrize("name", ["q41_ir_multi_k", "q45_incremental_dedup_clusters"])
def test_queries_build_no_pickled_rows(
    spark, no_pickled_rows, monkeypatch, tmp_path, name
):
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stages"))
    no_pickled_rows()
    assert QUERIES[name](spark, SF).count() > 0


def test_incremental_update_builds_no_pickled_rows(
    spark, no_pickled_rows, tmp_path
):
    turns, _ = generate_transcripts("xs", seed=42)
    # a delta of one conversation per entity keeps the stop set stable
    block = turns["conv_id"].str.extract(r"(\d+)$")[0].astype(int) // 12
    base = spark.createDataFrame(turns[block % 5 != 0], schema=TRANSCRIPT_SCHEMA)
    delta = spark.createDataFrame(turns[block % 5 == 0], schema=TRANSCRIPT_SCHEMA)
    store = ERStateStore(spark, tmp_path / "state")
    commit_er_state(spark, store, base)
    no_pickled_rows()
    report = incremental_er_update(spark, store, delta)
    assert report["generation"] == 1
    assert store.clusters().count() > 0
