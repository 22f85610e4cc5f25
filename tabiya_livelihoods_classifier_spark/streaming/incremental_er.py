"""Incremental entity resolution: merge a delta batch of transcripts into a
committed ER state without recomputing the corpus (SURVEY §2.9; north rule
"resumes from the last committed snapshot/checkpoint").

Reference parity: the reference's only incremental facility is
skip-processed-keys on rerun (scripts/2_llm_extraction/2_1….py:89-132,
scripts/3_llm_reranker/3_1….py:596-616) — append-only resume with no
cluster maintenance. This module is the ER-complete generalization that
full-scale entity resolution needs: new records can MERGE existing
clusters, change representatives, and flip corpus-global decisions, and
each of those effects is either folded in exactly or refused explicitly.

The batch pipeline (plans/pipeline.er_pipeline) is a pure function of the
whole corpus, but three of its stages read CORPUS-GLOBAL aggregates, so a
naive "run the pipeline on the delta and union" is wrong:

  * the two stop-token sets (turn-DF boilerplate, record-DF boilerplate)
    are vocabulary aggregates over ALL turns/records;
  * block purging weighs every block by the residual record mass of its
    COMBINED membership;
  * cluster representatives are min-rid over the COMBINED component.

This module makes the update exact anyway, by storing exactly the
aggregates those decisions read and re-deriving each decision on
base ⊕ delta:

  1. **Frozen vocabulary + drift certificate.** Delta records are built
     with the base corpus's stop sets (conversation_records(frozen_stops=…)),
     and the module PROVES this equals the full recompute by combining the
     stored (token → document-frequency) aggregates with the delta's and
     checking that no token crosses either stop threshold in the combined
     corpus. Both checks are vocabulary-sized joins. If any token drifts,
     the update refuses (StopSetDriftError) and the caller runs a
     compaction (commit_er_state on the combined corpus) — the fast path
     never silently diverges.
  2. **Monotone purging.** Residual block mass (sum − max over signature
     masses) is non-decreasing under new members, so a block purged in the
     base state stays purged — stored purged keys are final. Kept blocks
     touched by the delta are re-weighed exactly from the stored
     per-(block, signature) masses plus the delta's.
  3. **Block-local rescore set.** With the default min_common_blocks == 1,
     a pair is a candidate iff it co-occurs in >= 1 kept block, so exactly
     two kinds of pairs can differ from the base run: pairs touching a
     changed/new signature, and pairs both of whose endpoints sit in a
     newly purged block (their only generating block may be gone). Those
     are regenerated from the combined membership of the relevant blocks
     and rescored; every other base edge is provably unchanged
     (co-occurrence only grows, scores are frozen-feature functions). With
     min_common_blocks > 1 pair SUPPORT counts can change too, so the
     rescore set conservatively widens to every member of every touched
     block. Either way, work is proportional to the delta's block
     neighborhood, not the corpus.
  4. **Component-local re-clustering.** Only components containing an R
     member can change; connected components re-runs on that subgraph
     (updated edges restricted to affected components, plus new
     signatures); every other (rid, component) row passes through.

Signature identity across generations is the STABLE key
skey = sha2(name_key) — a signature's sid (min member rid) can change when
a delta record with a smaller rid joins it, so sid cannot key stored
membership/edges. Final cluster representatives are recomputed as
min(sid) per component, matching er_pipeline's min-rid contract exactly.

Storage model (ERStateStore over storage.StageStore — every stage commit
publishes per-partition lineage + metrics, the snapshot/lineage contract
of the batch pipeline): signature-granularity stages (signatures,
membership, purged keys, edges, signature clusters, the merged
(token, tdf, df) vocabulary) are rewritten per generation — they are 2-3
orders of magnitude smaller than the corpus (plans/pipeline.py stage 2b);
the scalar state (corpus totals, frozen stop arrays) rides the atomic
generation-pointer JSON itself. The two
CORPUS-granularity stages are never rewritten: `records` is append-only
(a conversation's record is immutable; reading the state folds the union
of all generations), and `clusters` is an LSM-style overlay chain — each
generation stores only the affected components' rows plus the list of
replaced base representatives, and the read folds base ∖ replaced ∪
overlay per generation, with compact() squashing the chain. On Iceberg
(the production target this sandbox stands in for), the signature stages
would be MERGE INTO / merge-on-read instead of rewrite; the layered
clusters read is exactly an Iceberg positional-delete fold.

Scale notes (100 TB): the delta path scans the base corpus-sized stages
only twice — the membership index (two equi-joins: R discovery, then
R-adjacent block expansion) and the records stage (one semi-join at final
compose, restricted to affected components). Both are single shuffles of a
signature-granularity and a corpus-granularity table respectively per
delta BATCH, so deltas should be batched (hourly/daily), not per-row; an
Iceberg deployment additionally prunes both scans with bloom/min-max
metadata on block_key / component.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tabiya_livelihoods_classifier_spark.config import ERConfig
from tabiya_livelihoods_classifier_spark.functions.embed import embed_udf
from tabiya_livelihoods_classifier_spark.operators.blocking import (
    candidate_pairs,
    cap_block_size,
)
from tabiya_livelihoods_classifier_spark.operators.clustering import (
    connected_components,
)
from tabiya_livelihoods_classifier_spark.operators.scoring import (
    match_edges,
    score_pairs,
)
from tabiya_livelihoods_classifier_spark.plans.pipeline import (
    STOP_TOKEN_DF,
    TURN_STOP_DF,
    _materialize_stage,
    conversation_records,
    signature_block_membership_raw,
    signature_records,
)
from tabiya_livelihoods_classifier_spark.session import arrow_frame
from tabiya_livelihoods_classifier_spark.storage import (
    StageStore,
    _atomic_write_json,
    params_hash,
)


class StopSetDriftError(RuntimeError):
    """The delta moved at least one token across a stop-DF threshold in the
    combined corpus: the frozen-vocabulary fast path would diverge from the
    full recompute, so the update refuses. Run a compaction
    (commit_er_state on the combined corpus) instead."""

    def __init__(self, drifted: list[str]):
        self.drifted = drifted
        super().__init__(
            "stop-set drift on tokens "
            f"{drifted[:10]}{'…' if len(drifted) > 10 else ''}: "
            "incremental update would diverge from full recompute; "
            "recommit the combined corpus (compaction)."
        )


def _skey() -> F.Column:
    return F.sha2(F.col("name_key"), 256)


class ERStateStore:
    """Generation-versioned ER state on top of StageStore.

    Stage names carry the generation (``er_g{n}_…``); ``er_state.json`` at
    the root is the atomically-updated pointer to the current generation,
    so a crashed update never publishes a half-written generation — readers
    follow the pointer, and every stage under it was committed through
    StageStore's atomic rename (torn-write safe, with lineage + metrics).
    """

    def __init__(self, spark: SparkSession, root: str | Path) -> None:
        self.spark = spark
        self.root = Path(root)
        self.store = StageStore(spark, self.root)

    # -- pointer -----------------------------------------------------------
    def _pointer(self) -> Path:
        return self.root / "er_state.json"

    def state(self) -> dict:
        p = self._pointer()
        if not p.exists():
            raise FileNotFoundError(f"no committed ER state under {self.root}")
        return json.loads(p.read_text())

    def exists(self) -> bool:
        return self._pointer().exists()

    def generation(self) -> int:
        return self.state()["generation"]

    def _publish(self, meta: dict) -> None:
        _atomic_write_json(self._pointer(), meta)

    # -- stage io ----------------------------------------------------------
    def epoch(self) -> int:
        """Compaction epoch of the LIVE state (0 before any compaction;
        absent pointer reads as 0 for pre-epoch stores)."""
        return self.state().get("epoch", 0) if self.exists() else 0

    def _name(self, gen: int, part: str, epoch: int | None = None) -> str:
        """Stage name under a compaction epoch. Default epoch = the live
        pointer's, so readers and the incremental updater always address
        the published chain; commit_er_state passes the NEXT epoch
        explicitly so a compaction builds under names the current pointer
        cannot reach (ADVICE r6: an in-place rebuild left a crashed
        compaction half-published — mixed new gen-0 stages with the old
        pointer's chain). Epoch 0 keeps the legacy un-prefixed names."""
        e = self.epoch() if epoch is None else epoch
        base = f"er_g{gen}_{part}"
        return base if e == 0 else f"er_c{e}_{base}"

    def commit_part(
        self, gen: int, part: str, df: DataFrame, ph: str,
        epoch: int | None = None,
    ) -> DataFrame:
        return self.store.commit(self._name(gen, part, epoch), df, ph)

    def read_part(self, gen: int, part: str) -> DataFrame:
        return self.store.read(self._name(gen, part))

    # -- logical (layered) reads ------------------------------------------
    def records(self) -> DataFrame:
        """Append-only fold: the union of every generation's record stage."""
        st = self.state()
        out = self.read_part(0, "records")
        for g in range(1, st["generation"] + 1):
            out = out.unionByName(self.read_part(g, "records"))
        return out

    def clusters(self) -> DataFrame:
        """LSM fold of the record-level clusters: base ∖ replaced-reps ∪
        overlay, applied generation by generation."""
        st = self.state()
        out = self.read_part(0, "clusters")
        for g in range(1, st["generation"] + 1):
            replaced = self.read_part(g, "replaced_reps")
            overlay = self.read_part(g, "clusters")
            out = out.join(
                replaced, F.col("component") == F.col("rep"), "left_anti"
            ).unionByName(overlay)
        return out

    def signatures(self) -> DataFrame:
        return self.read_part(self.generation(), "signatures")

    def membership(self) -> DataFrame:
        return self.read_part(self.generation(), "membership")

    def purged(self) -> DataFrame:
        return self.read_part(self.generation(), "purged")

    def edges(self) -> DataFrame:
        return self.read_part(self.generation(), "edges")

    def sig_clusters(self) -> DataFrame:
        return self.read_part(self.generation(), "sig_clusters")


def _vocab_stage(
    store: ERStateStore, gen: int, vocab: dict, ph: str,
    epoch: int | None = None,
) -> None:
    """One (token, tdf, df) stage per generation — the two document-
    frequency aggregates the drift certificate reads, merged so a
    generation costs one vocabulary commit, not two. Scalars (totals) and
    the frozen stop arrays live in the pointer JSON: they are a handful of
    values, and folding them into er_state.json removes two more
    commit+read round-trips from every update."""
    t, r = vocab["turn_df"], vocab["record_df"]
    merged = t.join(r, "token", "full").select(
        "token",
        F.coalesce(t["tdf"], F.lit(0)).alias("tdf"),
        F.coalesce(r["df"], F.lit(0)).alias("df"),
    )
    store.commit_part(gen, "vocab", merged, ph, epoch)


def _scalar_state(vocab: dict) -> dict:
    tot = (
        vocab["n_turns_total"].crossJoin(vocab["n_records"]).collect()[0]
    )
    strow = vocab["stop1"].crossJoin(vocab["stop"]).collect()[0]
    return {
        "n_turns_total": int(tot["n_turns_total"] or 0),
        "n_records": int(tot["n_docs"] or 0),
        "stop1": sorted(strow["stop1_arr"] or []),
        "stop": sorted(strow["stop_arr"] or []),
    }


def commit_er_state(
    spark: SparkSession,
    store: ERStateStore,
    turns: DataFrame,
    cfg: ERConfig = ERConfig(),
) -> dict:
    """Run the full batch pipeline and commit generation 0 (or a
    compaction: a fresh generation-0 state replacing the overlay chain).

    Cluster output is IDENTICAL to plans/pipeline.er_pipeline (same stage
    functions, with membership/edges keyed by the stable skey instead of
    sid; partitions and min-rid representatives are unchanged — min over
    sids per component equals min over rids)."""
    if cfg.max_block_size <= cfg.purge_block_size:
        # the exactness argument assumes capping never engages on kept
        # blocks (rows <= residual+1 <= purge_block_size+1); a config where
        # it does makes salt assignment depend on run-time block size and
        # silently breaks incremental == batch (ADVICE r6) — refuse.
        raise ValueError(
            f"ERConfig.max_block_size ({cfg.max_block_size}) must exceed "
            f"purge_block_size ({cfg.purge_block_size}): configs where "
            "cap_block_size engages on kept blocks make the incremental "
            "fold inexact."
        )
    ph = params_hash("er_state_v1", cfg.num_hashes, cfg.band_rows,
                     cfg.purge_block_size, cfg.max_block_size,
                     cfg.min_common_blocks, cfg.match_threshold)
    # Compaction safety (ADVICE r6): build the fresh base under the NEXT
    # epoch's stage names — unreachable from the live pointer — and flip
    # the pointer as the last step. A crash mid-compaction leaves the old
    # chain fully readable; a retry simply rebuilds the same orphan names.
    ep = (store.epoch() + 1) if store.exists() else 0
    vocab: dict = {}
    records = conversation_records(
        turns,
        cfg,
        embed=False,
        with_text=False,
        materialize=_materialize_stage,
        token_source=turns,
        vocab_out=vocab,
    ).select("rid", "role_sig", "name_key")
    records = records.persist()
    sig = signature_records(records).withColumn("skey", _skey()).persist()

    raw_mem = signature_block_membership_raw(sig, cfg, id_col="skey")
    # keep the purge bookkeeping: residual mass is monotone under new
    # members, so the purged keys are final for every later generation
    sizes = raw_mem.groupBy("block_key").agg(
        (F.sum("mass") - F.max("mass")).alias("residual")
    )
    purged = sizes.filter(
        F.col("residual") > cfg.purge_block_size
    ).select("block_key")
    kept_mem = raw_mem.join(purged, "block_key", "left_anti")

    pairs = candidate_pairs(
        cap_block_size(kept_mem.select("block_key", "rid"), cfg.max_block_size),
        cfg.min_common_blocks,
    )
    feats = sig.select(
        F.col("skey").alias("rid"), "name_key", "tokens",
        embed_udf(F.col("name_key")).alias("embedding"),
    )
    edges = match_edges(score_pairs(pairs, feats, cfg), cfg)

    store.commit_part(0, "records", records, ph, ep)
    sig_slim = sig.select("skey", "sid", "name_key", "role_sigs", "n_members")
    sig_c = store.commit_part(0, "signatures", sig_slim, ph, ep)
    mem_c = store.commit_part(0, "membership", kept_mem, ph, ep)
    store.commit_part(0, "purged", purged, ph, ep)
    edges_c = store.commit_part(0, "edges", edges, ph, ep)

    sig_cl = connected_components(
        edges_c.select(F.col("id_a"), F.col("id_b")),
        nodes=sig_c.select(F.col("skey").alias("rid")),
    ).select(F.col("rid").alias("skey"), F.col("component").alias("comp_skey"))
    # component representative = min member rid = min sid over the
    # component's signatures (the er_pipeline contract)
    reps = (
        sig_cl.join(sig_c.select("skey", "sid"), "skey")
        .groupBy("comp_skey")
        .agg(F.min("sid").alias("component"))
    )
    sig_cl = sig_cl.join(reps, "comp_skey")
    sig_cl_c = store.commit_part(0, "sig_clusters", sig_cl, ph, ep)

    clusters = (
        records.join(sig_c.select("skey", "name_key"), "name_key")
        .join(sig_cl_c.select("skey", "component"), "skey")
        .select("rid", "component")
    )
    store.commit_part(0, "clusters", clusters, ph, ep)
    _vocab_stage(store, 0, vocab, ph, ep)

    meta = {"generation": 0, "epoch": ep, "params_hash": ph,
            **_scalar_state(vocab)}
    store._publish(meta)
    records.unpersist()
    sig.unpersist()
    return meta


def _combined_stop_drift(
    base_df: DataFrame,
    delta_df: DataFrame,
    base_total: int,
    delta_total: int,
    frac: float,
    count_col: str,
) -> DataFrame:
    """Tokens whose stop-set membership under the COMBINED corpus differs
    from the base decision — an exact, vocabulary-sized certificate that
    the frozen fast path equals the full recompute (empty ⇒ exact)."""
    b = base_df.select("token", F.col(count_col).alias("b"))
    d = delta_df.select("token", F.col(count_col).alias("d"))
    total = base_total + delta_total
    j = b.join(d, "token", "full").select(
        "token",
        F.coalesce("b", F.lit(0)).alias("b"),
        F.coalesce("d", F.lit(0)).alias("d"),
    )
    was = F.col("b") > frac * base_total
    now = (F.col("b") + F.col("d")) > frac * total
    return j.filter(was != now).select("token")


def incremental_er_update(
    spark: SparkSession,
    store: ERStateStore,
    delta_turns: DataFrame,
    cfg: ERConfig = ERConfig(),
    check_rid_collisions: bool = True,
    timings: dict | None = None,
) -> dict:
    """Fold a batch of NEW conversations into the committed state; publish
    generation g+1; return a JSON-able report of the exactness/work
    counters (read the updated clusters via store.clusters()). Raises
    StopSetDriftError when the frozen vocabulary cannot reproduce the full
    recompute. `timings` (optional dict) receives per-phase wall clocks."""
    import time as _time

    _marks: list = [("start", _time.perf_counter())]

    def _mark(name: str) -> None:
        _marks.append((name, _time.perf_counter()))

    st = store.state()
    gen, ph = st["generation"], st["params_hash"]
    # cfg must be the EXACT config the state was committed with: a changed
    # threshold would silently mix old frozen decisions with new ones and
    # produce a state equal to neither recompute, still stamped with the
    # old hash (ADVICE r6). Recompute the hash the same way commit does
    # and demand a compaction on mismatch.
    want = params_hash("er_state_v1", cfg.num_hashes, cfg.band_rows,
                       cfg.purge_block_size, cfg.max_block_size,
                       cfg.min_common_blocks, cfg.match_threshold)
    if want != ph:
        raise ValueError(
            "ERConfig mismatch: the committed state was built with "
            f"params_hash={ph} but this update's cfg hashes to {want}; "
            "changing ER parameters requires a compaction "
            "(commit_er_state on the combined corpus), not an "
            "incremental fold."
        )
    new_gen = gen + 1

    frozen = (
        arrow_frame(spark, [(st["stop1"],)], "stop1_arr array<string>"),
        arrow_frame(spark, [(st["stop"],)], "stop_arr array<string>"),
    )
    dvocab: dict = {}
    d_records = conversation_records(
        delta_turns,
        cfg,
        embed=False,
        with_text=False,
        materialize=_materialize_stage,
        token_source=delta_turns,
        frozen_stops=frozen,
        vocab_out=dvocab,
    ).select("rid", "role_sig", "name_key")
    d_records = d_records.persist()

    if check_rid_collisions:
        n_dup = d_records.join(
            store.records().select("rid"), "rid", "left_semi"
        ).count()
        if n_dup:
            d_records.unpersist()  # the drift path unpersists too — do not
            # leak cache across refused updates in a long-lived session
            raise ValueError(
                f"{n_dup} delta rid(s) already exist in the committed state: "
                "incremental_er_update appends NEW conversations; re-ingested "
                "conversations need a compaction."
            )

    _mark("delta_records_ridcheck")

    # ---- exactness certificate: combined stop sets == frozen stop sets
    d_row = (
        dvocab["n_turns_total"]
        .crossJoin(dvocab["n_records"].select(F.col("n_docs").alias("n_records")))
        .collect()[0]
    )
    # an EMPTY delta (e.g. a caller-side filter matched nothing) yields
    # null aggregates; the fold is then a no-op generation, not a crash
    d_tot = {
        "n_turns_total": int(d_row["n_turns_total"] or 0),
        "n_records": int(d_row["n_records"] or 0),
    }
    base_vocab = store.read_part(gen, "vocab")
    drift1 = _combined_stop_drift(
        base_vocab.select("token", "tdf"), dvocab["turn_df"],
        st["n_turns_total"], d_tot["n_turns_total"],
        TURN_STOP_DF, "tdf",
    )
    drift2 = _combined_stop_drift(
        base_vocab.select("token", "df"), dvocab["record_df"],
        st["n_records"], d_tot["n_records"],
        STOP_TOKEN_DF, "df",
    )
    drifted = [r.token for r in drift1.union(drift2).limit(20).collect()]
    if drifted:
        d_records.unpersist()
        raise StopSetDriftError(drifted)
    _mark("drift_check")

    # ---- signature merge (delta-proportional)
    #
    # Materialization discipline for everything below: the shared small
    # frames are committed through the StageStore EARLY and read back, and
    # NOTHING is persist()ed. A persisted frame pins the partitioning it
    # was cached with (64-128 shuffle partitions of a few thousand rows),
    # and every downstream stage — especially the Arrow Jaro-Winkler pass
    # — then pays per-task overhead x128 with AQE unable to coalesce
    # (measured at bench: 26s pair gen + 45s scoring + 78s edge union on
    # persisted intermediates vs seconds for the same data volume inside
    # the batch pipeline's AQE-coalesced jobs). Committed parquet
    # snapshots give the same compute-once guarantee, let AQE re-plan
    # every consumer from actual sizes, and publish lineage for free.
    d_rec_c = store.commit_part(new_gen, "records", d_records, ph)
    d_records.unpersist()
    base_sig = store.signatures()
    d_parts = (
        signature_records(d_rec_c)
        .withColumn("skey", _skey())
        .select("skey", "sid", "name_key", "role_sigs", "n_members")
    )
    joined = d_parts.alias("d").join(
        base_sig.alias("b"), "skey", "left"
    )
    merged_role_sigs = F.array_sort(
        F.transform(
            F.map_entries(
                F.map_zip_with(
                    F.map_from_entries(F.coalesce(F.col("b.role_sigs"),
                                                  F.array().cast(
                                                      "array<struct<role_sig:string,rs_n:bigint>>"))),
                    F.map_from_entries(F.col("d.role_sigs")),
                    lambda k, v1, v2: F.coalesce(v1, F.lit(0))
                    + F.coalesce(v2, F.lit(0)),
                )
            ),
            lambda e: F.struct(
                e["key"].alias("role_sig"), e["value"].alias("rs_n")
            ),
        )
    )
    changed_sigs = store.commit_part(
        new_gen,
        "sig_delta",
        joined.select(
            "skey",
            F.least(
                F.col("d.sid"), F.coalesce(F.col("b.sid"), F.col("d.sid"))
            ).alias("sid"),
            F.col("d.name_key").alias("name_key"),
            merged_role_sigs.alias("role_sigs"),
            (F.col("d.n_members")
             + F.coalesce(F.col("b.n_members"), F.lit(0))).alias("n_members"),
        ),
        ph,
    )
    n_changed = store.store.manifest(store._name(new_gen, "sig_delta"))["rows"]
    n_new_sigs = changed_sigs.join(base_sig, "skey", "left_anti").count()
    _mark("signature_merge")

    # tokens re-derived from name_key (signature_records contract)
    changed_full = changed_sigs.withColumn(
        "tokens",
        F.when(F.col("name_key") == "", F.array().cast("array<string>"))
        .otherwise(F.split("name_key", " ")),
    )

    # ---- touched blocks: every key of a changed/new signature
    base_mem = store.membership()
    base_purged = store.purged()
    changed_mem = signature_block_membership_raw(
        changed_full, cfg, id_col="skey"
    ).join(base_purged, "block_key", "left_anti")  # purged stays purged
    touched_keys = changed_mem.select("block_key").distinct()

    # combined membership of touched blocks = base rows for other sigs
    # ∪ changed rows (ALL of a changed signature's keys are touched)
    changed_keys = changed_sigs.select("skey")
    changed_rids = changed_keys.withColumnRenamed("skey", "rid")
    touched_mem = store.commit_part(
        new_gen,
        "touched_mem",
        base_mem.join(touched_keys, "block_key", "left_semi")
        .join(changed_rids, "rid", "left_anti")
        .unionByName(changed_mem.select("block_key", "rid", "mass")),
        ph,
    )

    # exact combined purge re-evaluation on the touched blocks
    t_sizes = touched_mem.groupBy("block_key").agg(
        (F.sum("mass") - F.max("mass")).alias("residual")
    )
    newly_purged = store.commit_part(
        new_gen,
        "purged_new",
        t_sizes.filter(F.col("residual") > cfg.purge_block_size)
        .select("block_key"),
        ph,
    )
    n_newly_purged = store.store.manifest(
        store._name(new_gen, "purged_new")
    )["rows"]
    _mark("touched_purge")
    kept_touched = touched_mem.join(newly_purged, "block_key", "left_anti")
    p_members = (
        touched_mem.join(newly_purged, "block_key", "left_semi")
        .select(F.col("rid").alias("skey"))
        .distinct()
    )

    # ---- rescore set R. Two exact regimes:
    #
    # min_common_blocks == 1 (the default — TIGHT): a pair is a candidate
    # iff it co-occurs in >= 1 kept block, so support counts are
    # irrelevant and only two kinds of pairs can differ from the base
    # run: pairs touching a changed/new signature (their blocks gained
    # co-occurrences), and pairs BOTH of whose endpoints sit in a newly
    # purged block (they may lose their only generating block). An
    # (old, old) pair in a touched KEPT block keeps its co-occurrence and
    # its (frozen-feature) score — no rescore. R is therefore
    # changed ∪ new ∪ members-of-newly-purged, NOT every co-member of a
    # touched block; without this, one coarse composite block per lead
    # token chains R to ~every signature and the component-local
    # re-clustering degenerates to a full CC (measured at bench: 1700 of
    # 1700 components affected by an 85-entity delta).
    #
    # min_common_blocks > 1 (meta-blocking): pair support counts DO
    # change when a shared block's member set changes, so R falls back to
    # every member of every touched block (conservative, still exact).
    tight = cfg.min_common_blocks == 1
    if tight:
        seeds = p_members.unionByName(changed_keys).distinct()
    else:
        seeds = (
            kept_touched.select(F.col("rid").alias("skey"))
            .unionByName(p_members)
            .unionByName(changed_keys)
            .distinct()
        )
    R = store.commit_part(new_gen, "rescore_set", seeds, ph)
    n_rescore = store.store.manifest(store._name(new_gen, "rescore_set"))["rows"]
    _mark("rescore_set")

    # ---- candidate regeneration over R-adjacent blocks (combined view)
    combined_mem = store.commit_part(
        new_gen,
        "membership",
        base_mem.join(touched_keys, "block_key", "left_anti")
        .join(changed_rids, "rid", "left_anti")
        .unionByName(kept_touched),
        ph,
    )
    _mark("commit_membership")
    r_rids = R.withColumnRenamed("skey", "rid")
    r_blocks = (
        combined_mem.join(r_rids, "rid", "left_semi")
        .select("block_key")
        .distinct()
    )
    gen_mem = combined_mem.join(r_blocks, "block_key", "left_semi")
    pairs = candidate_pairs(
        cap_block_size(gen_mem.select("block_key", "rid"), cfg.max_block_size),
        cfg.min_common_blocks,
    )
    if tight:
        # pairs to (re)score: >=1 changed/new endpoint, or both in a newly
        # purged block's membership (candidacy may have vanished)
        chm = changed_keys.withColumn("_c", F.lit(1))
        pm = p_members.withColumn("_p", F.lit(1))
        rr_pairs = (
            pairs
            .join(chm.withColumnRenamed("skey", "id_a")
                  .withColumnRenamed("_c", "_ca"), "id_a", "left")
            .join(chm.withColumnRenamed("skey", "id_b")
                  .withColumnRenamed("_c", "_cb"), "id_b", "left")
            .join(pm.withColumnRenamed("skey", "id_a")
                  .withColumnRenamed("_p", "_pa"), "id_a", "left")
            .join(pm.withColumnRenamed("skey", "id_b")
                  .withColumnRenamed("_p", "_pb"), "id_b", "left")
            .filter(
                F.col("_ca").isNotNull()
                | F.col("_cb").isNotNull()
                | (F.col("_pa").isNotNull() & F.col("_pb").isNotNull())
            )
            .select("id_a", "id_b")
        )
    else:
        rr_pairs = (
            pairs.join(R.withColumnRenamed("skey", "id_a"), "id_a", "left_semi")
            .join(R.withColumnRenamed("skey", "id_b"), "id_b", "left_semi")
        )
    all_sigs = store.commit_part(
        new_gen,
        "signatures",
        base_sig.join(changed_keys, "skey", "left_anti")
        .unionByName(changed_sigs),
        ph,
    )
    sig_out = all_sigs
    _mark("commit_signatures")
    # features for every signature a rescored pair can touch (embedding
    # recomputed — pure function of name_key, cheaper than storing 64-dim
    # vectors for every signature). In tight mode rescored pairs pair a
    # changed signature with arbitrary co-members, so cover the generation
    # blocks' membership; in conservative mode R already covers it.
    feat_keys = (
        gen_mem.select(F.col("rid").alias("skey")).distinct()
        if tight
        else R
    )
    r_feats = (
        all_sigs.join(feat_keys, "skey", "left_semi")
        .withColumn(
            "tokens",
            F.when(F.col("name_key") == "", F.array().cast("array<string>"))
            .otherwise(F.split("name_key", " ")),
        )
        .select(
            F.col("skey").alias("rid"), "name_key", "tokens",
            embed_udf(F.col("name_key")).alias("embedding"),
        )
    )
    new_edges_c = store.commit_part(
        new_gen,
        "edges_new",
        match_edges(score_pairs(rr_pairs, r_feats, cfg), cfg)
        .select("id_a", "id_b"),
        ph,
    )

    # updated edge set. Tight mode: only both-in-P base edges can lose
    # candidacy, so only those are replaced (a rescored (changed, old)
    # edge that already existed dedupes against its identical base row).
    # Conservative mode: everything R x R is replaced.
    base_edges = store.edges()
    drop_set = p_members if tight else R
    kept_edges = base_edges.join(
        drop_set.withColumnRenamed("skey", "id_a"), "id_a", "left_anti"
    ).unionByName(
        base_edges.join(
            drop_set.withColumnRenamed("skey", "id_a"), "id_a", "left_semi"
        )
        .join(drop_set.withColumnRenamed("skey", "id_b"), "id_b", "left_anti")
    )
    updated_edges = store.commit_part(
        new_gen,
        "edges",
        kept_edges.unionByName(new_edges_c)
        .dropDuplicates(["id_a", "id_b"]),
        ph,
    )
    _mark("commit_edges")
    store.commit_part(
        new_gen, "purged", base_purged.unionByName(newly_purged), ph
    )

    # ---- component-local re-clustering. A component's STRUCTURE changes
    # only through an edge that did not exist before (merge), an edge that
    # no longer exists (split), or a changed signature (new node / new
    # sid for the representative). Rescored pairs whose edge persists —
    # e.g. a duplicated-entity clique inside a newly purged coarse block —
    # move nothing, so they must not seed the re-clustering: seeding every
    # P member pulled in 1367 of 1700 components at bench where the truly
    # changed set is the delta's ~85 entities.
    base_sig_cl = store.sig_clusters()
    if tight:
        dropped_pp = base_edges.join(
            p_members.withColumnRenamed("skey", "id_a"), "id_a", "left_semi"
        ).join(p_members.withColumnRenamed("skey", "id_b"), "id_b", "left_semi")
        vanished = dropped_pp.join(new_edges_c, ["id_a", "id_b"], "left_anti")
        structurally_new = new_edges_c.join(
            base_edges, ["id_a", "id_b"], "left_anti"
        )
        def _ends(e: DataFrame) -> DataFrame:
            return e.select(F.col("id_a").alias("skey")).unionByName(
                e.select(F.col("id_b").alias("skey"))
            )
        cc_seeds = (
            _ends(structurally_new)
            .unionByName(_ends(vanished))
            .unionByName(changed_keys)
            .distinct()
        )
    else:
        cc_seeds = R
    affected_comps = (
        base_sig_cl.join(cc_seeds, "skey", "left_semi")
        .select("comp_skey")
        .distinct()
    )
    affected_sigs = (
        base_sig_cl.join(affected_comps, "comp_skey", "left_semi")
        .select("skey")
        .unionByName(changed_keys)
        .distinct()
    )
    sub_edges = (
        updated_edges.join(
            affected_sigs.withColumnRenamed("skey", "id_a"), "id_a", "left_semi"
        )
    )
    sub_cl = connected_components(
        sub_edges, nodes=affected_sigs.select(F.col("skey").alias("rid"))
    ).select(F.col("rid").alias("skey"), F.col("component").alias("comp_skey"))
    sub_reps = (
        sub_cl.join(all_sigs.select("skey", "sid"), "skey")
        .groupBy("comp_skey")
        .agg(F.min("sid").alias("component"))
    )
    sub_cl = sub_cl.join(sub_reps, "comp_skey")
    n_affected = affected_comps.count()
    _mark("subgraph_cc")
    new_sig_cl = (
        base_sig_cl.join(affected_comps, "comp_skey", "left_anti")
        .unionByName(sub_cl)
    )
    sig_cl_out = store.commit_part(new_gen, "sig_clusters", new_sig_cl, ph)
    _mark("commit_sig_clusters")

    # replaced base representatives (for the clusters LSM fold) + overlay
    replaced = (
        base_sig_cl.join(affected_comps, "comp_skey", "left_semi")
        .select(F.col("component").alias("rep"))
        .distinct()
    )
    store.commit_part(new_gen, "replaced_reps", replaced, ph)
    # store.records() still follows the OLD pointer here (the new one is
    # published last, crash-safely) — fold the committed delta in explicitly
    all_records = store.records().unionByName(
        d_rec_c.select("rid", "role_sig", "name_key")
    )
    # overlay keyed off the re-clustered signatures (affected_sigs), NOT
    # base affected comps: new signatures (e.g. a brand-new singleton
    # entity) live in components that do not exist in the base clustering
    overlay = (
        all_records.join(
            sig_out.join(
                sig_cl_out.join(affected_sigs, "skey", "left_semi")
                .select("skey", "component"),
                "skey",
            ).select("name_key", "component"),
            "name_key",
        )
        .select("rid", "component")
    )
    store.commit_part(new_gen, "clusters", overlay, ph)
    _mark("commit_clusters_overlay")

    # combined vocabulary for the NEXT generation's drift check — one
    # full-outer merge of the delta's two DF aggregates into the single
    # (token, tdf, df) stage; totals/stops ride the pointer JSON
    dv = dvocab["turn_df"].join(dvocab["record_df"], "token", "full")
    merged = (
        base_vocab.join(dv, "token", "full")
        .select(
            "token",
            (F.coalesce(base_vocab["tdf"], F.lit(0))
             + F.coalesce(dv["tdf"], F.lit(0))).alias("tdf"),
            (F.coalesce(base_vocab["df"], F.lit(0))
             + F.coalesce(dv["df"], F.lit(0))).alias("df"),
        )
    )
    store.commit_part(new_gen, "vocab", merged, ph)
    _mark("commit_vocab")

    report = {
        "generation": new_gen,
        "params_hash": ph,
        "stop_stable": True,
        "n_delta_records": store.store.manifest(
            store._name(new_gen, "records")
        )["rows"],
        "n_changed_sigs": n_changed,
        "n_new_sigs": n_new_sigs,
        "n_touched_blocks": touched_keys.count(),
        "n_newly_purged_blocks": n_newly_purged,
        "n_rescore_sigs": n_rescore,
        "n_affected_components": n_affected,
    }
    if timings is not None:
        timings.update(
            {n: round(t - _marks[i][1], 3)
             for i, (n, t) in enumerate(_marks[1:])}
        )
    store._publish(
        {
            "generation": new_gen,
            "epoch": st.get("epoch", 0),
            "params_hash": ph,
            "n_turns_total": st["n_turns_total"] + d_tot["n_turns_total"],
            "n_records": st["n_records"] + d_tot["n_records"],
            "stop1": st["stop1"],
            "stop": st["stop"],
        }
    )
    _atomic_write_json(
        store.root / f"{store._name(new_gen, 'report')}.json", report
    )
    return report


def er_update_available_now(
    spark: SparkSession,
    store: ERStateStore,
    src_dir: str,
    checkpoint_dir: str,
    cfg: ERConfig = ERConfig(),
) -> list[dict]:
    """Drive the ER state fold from Structured Streaming: drain every
    transcript file that arrived in `src_dir` since the last run
    (file-source checkpoint = exactly-once over FILES, the same resume
    contract as streaming/incremental.ingest_available_now) and fold each
    micro-batch into the committed state as one generation. Returns the
    per-batch update reports.

    With ``Trigger.AvailableNow`` and no rate limit this is normally ONE
    batch per run — deltas arrive as a batch, exactly how the update's
    cost model wants them. A StopSetDriftError inside a batch fails the
    streaming query (refusal must be loud, not logged-and-skipped); run a
    compaction and restart — the failed batch's files are NOT marked
    processed, so nothing is lost.
    """
    from tabiya_livelihoods_classifier_spark.data.transcripts import (
        TRANSCRIPT_SCHEMA,
    )

    reports: list[dict] = []

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        reports.append(
            incremental_er_update(spark, store, batch_df, cfg)
        )

    query = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .parquet(src_dir)
        .writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return reports


def compact(
    spark: SparkSession,
    store: ERStateStore,
    all_turns: DataFrame,
    cfg: ERConfig = ERConfig(),
) -> dict:
    """Squash the overlay chain: recommit the combined corpus as a fresh
    base generation under the NEXT compaction epoch's stage names — the
    live pointer cannot reach them, so the old chain stays fully readable
    (and crash-consistent) until commit_er_state flips the pointer as its
    last step. (An Iceberg deployment expresses this as a snapshot
    rewrite.)"""
    return commit_er_state(spark, store, all_turns, cfg)
