"""Physical-plan assertions: the battery queries must compile to the
join/scan shapes that survive a 100x scale-up (no full-corpus broadcast,
column pruning at the parquet scan). For the callers of the exact-cosine
top-k kernel (q20/q21/q22/q38/q41) also: numpy == relational row parity,
the DuckDB oracle on both paths, and the kernel's broadcast lifetime. Also
the battery's stage memo and q12's pair-key domain check."""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import shutil
import sys
from pathlib import Path

import duckdb
import pytest
from pyspark import SparkContext
from pyspark.broadcast import Broadcast

from tabiya_livelihoods_classifier_spark.plans import queries as Q
from tabiya_livelihoods_classifier_spark.plans.queries import ORACLE_SQL, QUERIES
from tabiya_livelihoods_classifier_spark.storage import StageStore

SF = "/root/testdata/sf0.001"
SF01 = str(Path(SF).with_name("sf0.1"))
TOOLS = Path(__file__).resolve().parents[1] / "tools"


def _tool(name: str):
    spec = importlib.util.spec_from_file_location(name, TOOLS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q20_small_corpus_exact_scorer_is_arrow_block_matmul(spark):
    """Under KNN_NUMPY_MAX_ROWS the exact scorer is the Arrow block-matmul
    mapInPandas over candidate batches — one scan of the corpus, no join
    node at all (the query matrix rides a Spark broadcast variable).
    Asserted on the stage PRODUCER plan (_knn_topk): the q20 entry itself
    returns the committed kNN stage (a parquet scan) once _knn_topk_staged
    has materialized it."""
    from tabiya_livelihoods_classifier_spark.plans.queries import _knn_topk

    p = _plan(_knn_topk(spark, SF, 5))
    assert "MapInPandas" in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_knn_relational_fallback_is_shuffle_cartesian(spark, monkeypatch):
    """Above the numpy gate the relational fallback runs, and it must not
    broadcast the candidate corpus: the scale-safe strategy is a
    shuffle-replicated cartesian."""
    monkeypatch.setattr(Q, "KNN_NUMPY_MAX_ROWS", 0)
    p = _plan(Q._knn_topk(spark, SF, 5))
    assert "CartesianProduct" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


# every caller of the top-k kernel, as (id, producer frame)
_TOPK_CALLERS = {
    "knn_k5": lambda s, d: Q._knn_topk(s, d, 5),
    "knn_k32": lambda s, d: Q._knn_topk(s, d, 32),
    "ivf": lambda s, d: Q._ivf_topk(s, d, 5),
    "q38": Q.q38_entity_linking,
}


@pytest.mark.parametrize("sf", [SF, SF01], ids=["sf0.001", "sf0.1"])
@pytest.mark.parametrize("caller", list(_TOPK_CALLERS))
def test_topk_numpy_matches_relational(spark, monkeypatch, caller, sf):
    """The kernel's two physical paths are one contract for every caller:
    identical rows (ids, labels, types, ranks and bitwise-identical rounded
    sims)."""
    build = _TOPK_CALLERS[caller]
    a = sorted(map(tuple, build(spark, sf).collect()))
    monkeypatch.setattr(Q, "KNN_NUMPY_MAX_ROWS", 0)
    b = sorted(map(tuple, build(spark, sf).collect()))
    assert a and a == b


def test_q20_large_corpus_routes_through_ivf(spark):
    """Above the gate q20 takes the IVF centroid-bucket path: candidates via
    equi-join on bucket — no cartesian over the corpus. (sf0.1's 2000
    embeddings exceed ANN_EXACT_MAX_ROWS=1000.) The only crossJoin is the
    per-vector centroid assignment against the broadcast centroid table."""
    p = _plan(QUERIES["q20_ann_topk"](spark, SF01))
    assert "CartesianProduct" not in p, p


def test_q21_nrel_has_no_nested_loop_join(spark):
    """n_rel comes from the label histogram (broadcast hash join), never a
    (queries x corpus) nested-loop theta-join."""
    p = _plan(QUERIES["q21_knn_ir_metrics"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in p, p


def test_q34_neardup_has_no_allpairs_join(spark):
    """Sign-band LSH near-dup: candidates via equi-join on band keys only —
    no cartesian, no broadcast nested loop anywhere in the plan."""
    p = _plan(QUERIES["q34_embedding_neardup"](spark, SF))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_q12_exact_jaccard_has_no_allpairs_join(spark):
    """Candidates come from in-array pair generation per shingle group — no
    corpus-level cartesian or nested-loop join. The only permitted
    BroadcastNestedLoopJoin is the 1-row broadcast hot-shingle fold-in
    (Cross BuildRight of a global aggregate — the scalar-subquery pattern),
    which is O(|corpus|) work regardless of scale."""
    p = _plan(QUERIES["q12_jaccard_pairs"](spark, SF))
    assert "CartesianProduct" not in p, p
    for ln in p.splitlines():
        # tree lines carry the join type; detail-section headers do not
        if "BroadcastNestedLoopJoin" in ln and "Build" in ln:
            assert "Cross BuildRight" in ln, ln


def test_q01_scan_prunes_columns(spark):
    """Column pruning reaches the lineitem scan: the 16-column table is read
    with only the handful of columns q01 touches."""
    p = _plan(QUERIES["q01_pricing_summary"](spark, SF))
    read_schemas = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schemas, p
    assert all("l_comment" not in ln for ln in read_schemas), read_schemas
    assert any("l_returnflag" in ln for ln in read_schemas), read_schemas


def test_q38_numpy_plan_has_no_join(spark):
    """Under the gate the linking scorer is mapInPandas over the taxonomy
    side with the entity matrices on a broadcast variable — no join node,
    no corpus broadcast relation."""
    p = _plan(Q.q38_entity_linking(spark, SF))
    assert "MapInPandas" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


# the top-k kernel's consumers, checked against their DuckDB oracles; at
# sf0.1 q20 takes its IVF branch
_TOPK_ORACLE = [
    *((name, SF) for name in (
        "q20_ann_topk", "q21_knn_ir_metrics", "q22_ann_ivf",
        "q38_entity_linking", "q41_ir_multi_k",
    )),
    ("q20_ann_topk", SF01),
    ("q21_knn_ir_metrics", SF01),
    ("q22_ann_ivf", SF01),
    ("q41_ir_multi_k", SF01),
]


@pytest.mark.parametrize("path", ["numpy", "relational"])
@pytest.mark.parametrize(
    "name,sf", _TOPK_ORACLE, ids=[f"{n[:3]}-{Path(d).name}" for n, d in _TOPK_ORACLE]
)
def test_topk_queries_match_oracle(spark, monkeypatch, tmp_path, name, sf, path):
    """Rows, columns and value multisets equal the oracle's on both kernel
    paths. Stage keys do not include the stage root, so each case gets its
    own root: a stage committed by the other path is never read back."""
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path))
    if path == "relational":
        monkeypatch.setattr(Q, "KNN_NUMPY_MAX_ROWS", 0)
    normalize = _tool("check_queries").normalize
    df = QUERIES[name](spark, sf)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    rel = con.execute(ORACLE_SQL[name])
    ocols = [d[0] for d in rel.description]
    assert sorted(df.columns) == sorted(ocols)
    got = normalize(df.collect(), df.columns)
    assert got and got == normalize(rel.fetchall(), ocols)


def test_kernel_unpersists_the_previous_broadcast(spark, monkeypatch):
    """Each kernel call unpersists the broadcast of the call before it, and
    a frame whose broadcast was unpersisted still evaluates (the driver
    keeps the value and re-ships it)."""
    made, dropped = [], []
    broadcast, unpersist = SparkContext.broadcast, Broadcast.unpersist

    def spy_broadcast(self, value):
        made.append(broadcast(self, value))
        return made[-1]

    def spy_unpersist(self, blocking=False):
        dropped.append(self)
        return unpersist(self, blocking)

    monkeypatch.setattr(SparkContext, "broadcast", spy_broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", spy_unpersist)
    first = Q.q38_entity_linking(spark, SF)
    rows = sorted(first.collect())
    assert len(made) == 1 and made[0] not in dropped
    dropped.clear()
    Q.q38_entity_linking(spark, SF)
    assert dropped == [made[0]] and len(made) == 2
    assert sorted(first.collect()) == rows


def test_explain_tool_captures_kernel_plans(spark, monkeypatch, tmp_path):
    """tools/explain_query still resolves the kernel's callers, and under
    the gate each captured plan is the mapInPandas scorer with no
    nested-loop or cartesian join."""
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stages"))
    names = ["knn_plan", "q22_plan", "q38_entity_linking"]
    argv = ["explain_query.py", str(tmp_path), "cap", SF, *names]
    monkeypatch.setattr(sys, "argv", argv)
    assert _tool("explain_query").main() == 0
    for name in names:
        p = (tmp_path / f"{name}_cap.txt").read_text()
        assert "MapInPandas" in p, p
        assert "BroadcastNestedLoopJoin" not in p, p
        assert "CartesianProduct" not in p, p


def test_battery_stage_is_reused_until_its_source_changes(
    spark, monkeypatch, tmp_path
):
    """A staged battery frame is committed once and read back by later
    calls; a new mtime on the source table changes the stage key, so the
    next call commits again."""
    src = tmp_path / "sf" / "documents.parquet"
    src.parent.mkdir()
    shutil.copyfile(Path(SF) / "documents.parquet", src)
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stages"))
    commits, commit = [], StageStore.commit

    def spy(self, stage, df, phash):
        commits.append(stage)
        return commit(self, stage, df, phash)

    monkeypatch.setattr(StageStore, "commit", spy)
    Q._shingled_staged(spark, str(src.parent))
    Q._shingled_staged(spark, str(src.parent))
    assert len(commits) == 1

    st = src.stat()
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    Q._shingled_staged(spark, str(src.parent))
    assert len(commits) == 2 and commits[0] != commits[1]


def test_q12_rejects_doc_ids_outside_the_packed_key(spark, monkeypatch, tmp_path):
    """q12 packs doc_id into the top 39 bits of a bigint pair key: an id
    outside [0, 2^39) fails the query instead of aliasing another doc."""
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stages"))
    spark.createDataFrame(
        [
            (-7, "alpha beta gamma delta", "en"),
            (1, "alpha beta gamma delta", "en"),
            (2, "one two three four", "en"),
        ],
        "doc_id long, text string, lang string",
    ).write.parquet(str(tmp_path / "sf" / "documents.parquet"))
    with pytest.raises(Exception, match=r"outside \[0, 2\^39\)"):
        Q.q12_jaccard_pairs(spark, str(tmp_path / "sf"))

