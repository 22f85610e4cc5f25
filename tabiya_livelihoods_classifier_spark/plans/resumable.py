"""Checkpointed, resumable ER pipeline (north rule: resume from the last
committed snapshot after failure, with per-partition lineage + metrics).

Each stage commits atomically through `storage.StageStore`; its params hash
chains (stage name, ERConfig, parent hash, input id), so a rerun skips every
stage whose committed hash matches and recomputes only from the first dirty
stage onward. Reference precedent: skip-processed resume
(`2_1_entity_extraction_loop.py:89-132`) and rerun-until-complete
(`3_1_LLM_pick_skills_full_details.py:684-721`), upgraded from
row-level skip sets to stage-level snapshot commits.
"""

from __future__ import annotations

from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession

from tabiya_livelihoods_classifier_spark.config import ERConfig
from tabiya_livelihoods_classifier_spark.operators.blocking import candidate_pairs
from tabiya_livelihoods_classifier_spark.operators.clustering import (
    connected_components,
)
from tabiya_livelihoods_classifier_spark.operators.scoring import (
    match_edges,
    score_pairs,
)
from pyspark.sql import functions as F

from tabiya_livelihoods_classifier_spark.plans.pipeline import (
    canonical_turns,
    conversation_records,
    signature_block_membership,
    signature_records,
)
from tabiya_livelihoods_classifier_spark.storage import StageStore, params_hash


class StageFailure(RuntimeError):
    """Injected failure for resume tests (T-resume)."""


STAGES = (
    "canon",
    "records",
    "signatures",
    "membership",
    "pairs",
    "scored",
    "edges",
    "clusters",
)


def run_resumable(
    spark: SparkSession,
    turns: DataFrame,
    store: StageStore,
    cfg: ERConfig = ERConfig(),
    input_id: str = "",
    fail_after: str | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the 7-stage ER pipeline through `store`.

    `fail_after='pairs'` raises StageFailure immediately AFTER the pairs
    stage commits — the kill point for the resume test. A subsequent call
    with identical (cfg, input_id) resumes at 'scored'.
    """
    cfg_blob = sorted(asdict(cfg).items(), key=lambda kv: kv[0])
    done: dict[str, DataFrame] = {}
    parent = params_hash("input", input_id)
    computed: list[str] = []

    def stage(name: str, compute) -> DataFrame:
        nonlocal parent
        h = params_hash(name, cfg_blob, parent)
        parent = h

        def build() -> DataFrame:
            computed.append(name)
            return compute()

        df = store.staged(name, h, build)
        done[name] = df
        if fail_after == name:
            raise StageFailure(f"injected failure after stage '{name}'")
        return df

    canon = stage("canon", lambda: canonical_turns(turns))
    records = stage(
        "records", lambda: conversation_records(canon, cfg, embed=False)
    )
    sig = stage("signatures", lambda: signature_records(records))
    membership = stage(
        "membership", lambda: signature_block_membership(sig, cfg)
    )
    pairs = stage("pairs", lambda: candidate_pairs(membership, cfg.min_common_blocks))
    feats = sig.select(
        F.col("sid").alias("rid"), "name_key", "tokens", "embedding"
    )
    scored = stage("scored", lambda: score_pairs(pairs, feats, cfg))
    edges = stage("edges", lambda: match_edges(scored, cfg))
    stage(
        "clusters",
        lambda: records.select("rid", "name_key")
        .join(sig.select("name_key", "sid"), "name_key")
        .join(
            connected_components(
                edges, nodes=sig.select(F.col("sid").alias("rid"))
            ).select(F.col("rid").alias("sid"), "component"),
            "sid",
        )
        .select("rid", "component"),
    )
    done["_computed"] = computed  # type: ignore[assignment]
    return done
