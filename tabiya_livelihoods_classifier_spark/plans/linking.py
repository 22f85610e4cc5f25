"""Stages 6-7: cluster -> taxonomy entity linking + hierarchy kernel rollup.

Reference semantics re-expressed Spark-first:
  * per-type top-k cosine retrieval with per-type minimum-similarity bounds
    — inference/linker.py:268-330 (`_top_k` routes to the per-type reference
    set) + inference/evaluator.py:190 (entity_bounds {Occupation:0,
    Skill:0.7, Qualification:0.8}) + linker.py:47 (k=32 default);
  * taxonomy-graph enrichment of linked entities — skill-hierarchy ancestor
    chains 3_2b_clean_LLM_create_opp-db.py:473-532, scored with the
    matching_config.json kernel (edge weights hierarchy=1.0,
    skill_relation=1.5; exp(-0.7*d); distance cutoff 3).

Execution shape (the 100-TB plan): the taxonomy is a DIM table (ESCO is
~10^4 rows), so linking is one broadcast join keyed on entity_type followed
by a window top-k — the only wide shuffle is the rank partition by entity,
which is unavoidable and linear. The kernel rollup joins the (bounded)
linked set against the weighted ancestor closure of the taxonomy graph,
itself a depth-<=3 self-join chain (operators/graph.weighted_ancestors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tabiya_livelihoods_classifier_spark.config import ERConfig
from tabiya_livelihoods_classifier_spark.functions.embed import (
    cosine_expr,
    embed_udf,
)
from tabiya_livelihoods_classifier_spark.operators.graph import (
    kernel_scores,
    weighted_ancestors,
)
from tabiya_livelihoods_classifier_spark.session import arrow_frame

# matching_config.json:5-12
HIERARCHY_WEIGHT = 1.0
RELATION_WEIGHT = 1.5
KERNEL_LAMBDA = 0.7
DISTANCE_CUTOFF = 3


def taxonomy_frame(taxo: dict[str, DataFrame]) -> DataFrame:
    """Unify the fixture taxonomy tables (data/taxonomy.py) into one typed,
    embedded reference frame: (tax_id, entity_type, label, embedding).

    Occupation rows come from taxo_occupations, Skill rows from taxo_skills,
    Qualification rows from qualifications — mirroring the three per-type
    vector stores the reference loads (linker.py:104-110).
    """
    occ = taxo["taxo_occupations"].select(
        F.col("ID").alias("tax_id"),
        F.lit("Occupation").alias("entity_type"),
        F.col("PREFERREDLABEL").alias("label"),
    )
    skl = taxo["taxo_skills"].select(
        F.col("ID").alias("tax_id"),
        F.lit("Skill").alias("entity_type"),
        F.col("PREFERREDLABEL").alias("label"),
    )
    qual = taxo["qualifications"].select(
        F.col("qualification").alias("tax_id"),
        F.lit("Qualification").alias("entity_type"),
        F.col("qualification").alias("label"),
    )
    uni = occ.unionByName(skl).unionByName(qual)
    return uni.withColumn("embedding", embed_udf(F.col("label")))


def _bounds_expr(cfg: ERConfig):
    """Per-type minimum-cosine gate as one CASE expression
    (evaluator.py:190 entity_bounds, consumed from ERConfig)."""
    expr = F.lit(0.0)
    for etype, bound in cfg.entity_bounds.items():
        expr = F.when(F.col("entity_type") == etype, F.lit(float(bound))).otherwise(
            expr
        )
    return expr


# Bounded-broadcast guard for the Arrow scorer: the taxonomy is collected
# once on the driver and broadcast to every task, so it must stay dim-sized
# (ESCO is ~1.4e4 rows; the cap allows 200k x 64 float64 ~ 100 MB). Above
# it, use strategy="relational" (no collect, no broadcast) — and expect the
# retrieval to need an ANN index, not exact scoring, at that vocabulary.
LINK_TAX_MAX_ROWS = 200_000


def link_entities(
    entities: DataFrame,
    taxonomy: DataFrame,
    cfg: ERConfig = ERConfig(),
    per_type_k: int | None = None,
    strategy: str = "arrow",
) -> DataFrame:
    """Top-k taxonomy candidates per (entity, entity_type) above the type's
    cosine bound.

    entities: (entity_id, embedding) — each entity is matched against EVERY
    taxonomy type (the linker's output_format='all' shape); rows that fail a
    type's bound simply produce no candidates of that type.
    taxonomy: (tax_id, entity_type, label, embedding) — broadcast dim table.
    Returns (entity_id, entity_type, tax_id, label, sim, rnk).

    Two physical strategies under one contract (M7's q20 pattern):
    - "arrow" (default): the dim-sized taxonomy is broadcast as numpy
      matrices (one per entity_type, rows pre-sorted tax_id-ascending) and
      each Arrow batch of entities is scored with ONE BLAS matmul per type +
      an in-batch exact top-k — the |entities| x |taxonomy| candidate set is
      never materialized as rows, so there is no BroadcastNestedLoopJoin row
      explosion to pay at 100x entity counts. Because every batch sees the
      WHOLE taxonomy, the per-(entity, type) top-k is final inside the
      batch: no downstream window, no shuffle at all past the scan.
    - "relational": broadcast NLJ + per-row cosine_expr + window top-k —
      keeps everything JVM-side with zero driver collects; the parity
      reference for the arrow path (tests assert identical ids/ranks) and
      the route for taxonomies above LINK_TAX_MAX_ROWS.

    Rank parity: the arrow path ranks first and bound-filters after, the
    relational path filters first — identical rnk values, because the bound
    cuts a SUFFIX of the sim-descending order, so passing candidates always
    occupy the same prefix positions. Ties break tax_id-ascending in both
    (stable argsort over id-sorted columns == the window's tax_id ASC)."""
    k = per_type_k or cfg.top_k
    if strategy == "relational":
        return _link_entities_relational(entities, taxonomy, cfg, k)
    return _link_entities_arrow(entities, taxonomy, cfg, k)


def _link_entities_relational(
    entities: DataFrame, taxonomy: DataFrame, cfg: ERConfig, k: int
) -> DataFrame:
    joined = entities.crossJoin(
        F.broadcast(
            taxonomy.select(
                "tax_id",
                "entity_type",
                "label",
                F.col("embedding").alias("tax_embedding"),
            )
        )
    )
    sim = cosine_expr(F.col("embedding"), F.col("tax_embedding"))
    scored = joined.withColumn("sim", sim).filter(
        F.col("sim") >= _bounds_expr(cfg)
    )
    w = Window.partitionBy("entity_id", "entity_type").orderBy(
        F.col("sim").desc(), F.col("tax_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("entity_id", "entity_type", "tax_id", "label", "sim", "rnk")
    )


def _link_entities_arrow(
    entities: DataFrame, taxonomy: DataFrame, cfg: ERConfig, k: int
) -> DataFrame:
    import numpy as np

    spark = entities.sparkSession
    e_t = dict(entities.dtypes)["entity_id"]
    tax_dtypes = dict(taxonomy.dtypes)
    out_schema = (
        f"entity_id {e_t}, entity_type string, tax_id {tax_dtypes['tax_id']},"
        f" label {tax_dtypes['label']}, sim double, rnk int"
    )
    tax_rows = taxonomy.select(
        "tax_id", "entity_type", "label", "embedding"
    ).limit(LINK_TAX_MAX_ROWS + 1).collect()
    if len(tax_rows) > LINK_TAX_MAX_ROWS:
        raise ValueError(
            f"taxonomy exceeds LINK_TAX_MAX_ROWS={LINK_TAX_MAX_ROWS}; this "
            "is no longer a dim table — use strategy='relational' (or an "
            "ANN index) instead of a driver-collected broadcast."
        )
    if not tax_rows:
        return arrow_frame(spark, [], out_schema)
    by_type: dict[str, list] = {}
    for r in tax_rows:
        by_type.setdefault(r.entity_type, []).append(r)
    payload = {}
    for et, rows in by_type.items():
        # tax_id-ascending rows: a STABLE argsort on -sims then breaks
        # float ties exactly like the relational window's tax_id ASC
        rows.sort(key=lambda r: r.tax_id)
        mat = np.array([r.embedding for r in rows], dtype=np.float64)
        nrm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        payload[et] = (
            np.array([r.tax_id for r in rows], dtype=object),
            np.array([r.label for r in rows], dtype=object),
            mat,
            nrm,
        )
    bounds = {et: float(b) for et, b in cfg.entity_bounds.items()}
    bc = spark.sparkContext.broadcast((payload, bounds, int(k)))

    def score(batches):
        import numpy as _np
        import pandas as _pd

        b_payload, b_bounds, kk = bc.value
        for pdf in batches:
            pdf = pdf[pdf["embedding"].notna()]
            if not len(pdf):
                continue
            eids = pdf["entity_id"].to_numpy(dtype=object)
            emat = _np.array(list(pdf["embedding"]), dtype=_np.float64)
            enrm = _np.sqrt(_np.einsum("ij,ij->i", emat, emat))
            m = len(eids)
            for et, (tids, tlabs, tmat, tnrm) in b_payload.items():
                denom = enrm[:, None] * tnrm[None, :]
                sims = emat @ tmat.T
                # zero-norm on either side => sim 0.0, mirroring
                # cosine_expr's otherwise(0.0) (and the zero-norm kNN
                # parity rule: never let NaN order a ranking)
                sims = _np.where(denom > 0, sims / _np.where(denom > 0, denom, 1.0), 0.0)
                kept = min(kk, sims.shape[1])
                top = _np.argsort(-sims, axis=1, kind="stable")[:, :kept]
                s = _np.take_along_axis(sims, top, axis=1)
                b = b_bounds.get(et, 0.0)
                mask = (s >= b).ravel()
                if not mask.any():
                    continue
                qi = _np.repeat(_np.arange(m), kept)
                rnk = _np.tile(_np.arange(1, kept + 1), m)
                ci = top.ravel()
                yield _pd.DataFrame(
                    {
                        "entity_id": eids[qi][mask],
                        "entity_type": et,
                        "tax_id": tids[ci][mask],
                        "label": tlabs[ci][mask],
                        "sim": s.ravel()[mask],
                        "rnk": rnk[mask],
                    }
                )

    return entities.select("entity_id", "embedding").mapInPandas(
        score, schema=out_schema
    )


def taxonomy_kernel_edges(taxo: dict[str, DataFrame]) -> DataFrame:
    """Weighted child->parent edge set of the taxonomy graph: skill-group
    hierarchy edges (weight 1.0) + occupation->skill relation edges (weight
    1.5, traversed occupation->skill), per matching_config.json:5-8."""
    hier = taxo["skill_hierarchy"].select(
        F.col("CHILDID").alias("child"),
        F.col("PARENTID").alias("parent"),
        F.lit(HIERARCHY_WEIGHT).alias("weight"),
    )
    rel = taxo["occupation_to_skill_relations"].select(
        F.col("occupation_id").alias("child"),
        F.col("skill_id").alias("parent"),
        F.lit(RELATION_WEIGHT).alias("weight"),
    )
    return hier.unionByName(rel).dropDuplicates(["child", "parent"])


def kernel_rollup(
    linked: DataFrame,
    edges: DataFrame,
    lam: float = KERNEL_LAMBDA,
    max_depth: int = DISTANCE_CUTOFF,
) -> DataFrame:
    """Stage 7: attach every taxonomy ancestor within `max_depth` weighted
    hops of each linked candidate, scored exp(-lam * dist) and damped by the
    link similarity (kernel * sim — the graph-distance kernel applied to the
    retrieval score, matching_config.json kernel semantics).

    Returns (entity_id, tax_id, ancestor_id, dist, kernel, rollup_score).
    """
    anc = kernel_scores(weighted_ancestors(edges, max_depth), lam)
    return (
        linked.join(anc, linked.tax_id == anc.node)
        .select(
            "entity_id",
            "tax_id",
            F.col("ancestor").alias("ancestor_id"),
            "dist",
            F.col("score").alias("kernel"),
            (F.col("score") * F.col("sim")).alias("rollup_score"),
        )
    )


def er_enrich(
    stages: dict[str, DataFrame],
    taxo: dict[str, DataFrame],
    cfg: ERConfig = ERConfig(),
    per_type_k: int | None = None,
) -> dict[str, DataFrame]:
    """Wire stages 6-7 onto an er_pipeline result: one linked-candidate set
    per CLUSTER (the representative signature's embedding stands for the
    cluster, exactly one link pass per component), plus the kernel rollup.

    Returns {"cluster_reps", "links", "rollup"}.
    """
    sig = stages["signatures"]
    clusters = stages["clusters"]
    # cluster representative = component id, which IS a member rid whose
    # signature carries the canonical embedding; one row per component.
    reps = (
        clusters.select(F.col("component").alias("entity_id"))
        .distinct()
        .join(
            stages["records"].select(
                F.col("rid").alias("entity_id"), "name_key"
            ),
            "entity_id",
        )
        .join(sig.select("name_key", "embedding"), "name_key")
        .select("entity_id", "name_key", "embedding")
    )
    taxonomy = taxonomy_frame(taxo)
    links = link_entities(reps, taxonomy, cfg, per_type_k)
    rollup = kernel_rollup(links, taxonomy_kernel_edges(taxo))
    return {"cluster_reps": reps, "links": links, "rollup": rollup}
