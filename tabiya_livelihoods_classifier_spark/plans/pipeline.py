"""End-to-end ER pipeline over transcript tables (SURVEY §7.1).

    turns (conv_id, turn_idx, role, text, tool, ts)
      -> [1] canonicalize        (per-turn text invariant; stable turn order)
      -> [2] conversation records (sorted-concat text, stop-filtered tokens,
                                   name_key)
      -> [2b] signature collapse  (exact dedup BEFORE fuzzy ER: records
                                   sharing a name_key are provably same-
                                   cluster, so fuzzy stages run per DISTINCT
                                   signature — ~clique-size x smaller input)
      -> [3] blocking             (MinHash bands ∪ composite key; size cap)
      -> [4] pairwise scoring     (Jaccard ⊕ Jaro-Winkler ⊕ cosine; threshold)
      -> [5] clustering           (contraction + hash-min CC on signatures,
                                   composed back to records via name_key)
      -> [6] taxonomy linking     (cluster reps -> per-type cosine top-k with
                                   entity bounds; linker.py:268-330 analog)
      -> [7] hierarchy rollup     (ancestor closure with exp(-λ·d) kernel)

Scale notes (the plan you'd want at 100 TB):
  * Stage 2 makes exactly ONE pass over the turn corpus: a single fused
    groupBy(conv_id) aggregate carries each turn's distinct-token ARRAY
    (never an exploded (conv, token) fact) plus the conversation metadata,
    materialized once behind a parquet barrier (see conversation_records'
    `materialize` hook: its consumers' differently-pruned subtrees defeat
    exchange reuse, so without the barrier the corpus-wide pass would
    re-execute per consumer). Per-token turn counts are run lengths over
    the sorted in-row multiset (_token_runs) — CPU that scales, instead of
    shuffle bytes that don't. Token document-frequency stop-filtering is an
    aggregate whose result is bounded (tokens with df>30% number at most
    ~3/0.3 per record on average), folded back in as a broadcast 1-row
    array — the classic "broadcast tiny aggregate" pattern.
  * Stage 2b is THE scale lever on duplicate-heavy corpora: ER cost is
    quadratic in cluster size, so collapsing c exact copies shrinks pair
    generation + scoring + CC input by ~c². Cluster-level output is exactly
    preserved: same-signature records score 1.0 on all three sims (always
    >= threshold), band keys depend only on tokens (identical), and the
    composite keys of a signature are the UNION over member role_sigs, so a
    pair of records is blocked iff its signature pair is blocked.
  * Stage 3 shuffles once on block_key; oversized blocks are purged then
    salted (operators/blocking) so no partition exceeds
    max_block_size choose 2 candidate pairs.
  * Stage 4 is two equi-joins on signature id (AQE picks broadcast vs
    sort-merge by actual size) + one Arrow UDF pass.
  * Stage 5 shuffles per CC iteration, bounded by cluster diameter.
  * Stages 6-7 join cluster representatives against the taxonomy — a
    broadcast-sized dim table (ESCO is ~10^4 rows) — so linking is one
    broadcast join + window top-k, no extra wide shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tabiya_livelihoods_classifier_spark.config import ERConfig
from tabiya_livelihoods_classifier_spark.functions.embed import embed_udf
from tabiya_livelihoods_classifier_spark.functions.text import (
    canonicalize_text,
    tokens,
)
from tabiya_livelihoods_classifier_spark.operators.blocking import (
    candidate_pairs,
    cap_block_size,
    composite_key,
    explode_blocks,
    minhash_band_keys,
    purge_oversized,
    purge_oversized_by_mass,
)
from tabiya_livelihoods_classifier_spark.operators.clustering import (
    connected_components,
)
from tabiya_livelihoods_classifier_spark.operators.scoring import (
    match_edges,
    score_pairs,
)

STOP_TOKEN_DF = 0.3  # tokens in >30% of conversations are template noise
# Corpus boilerplate = tokens in >20% of ALL turns. Calibration matters:
# template function words land at >=40% of turns, while the most frequent
# ENTITY words stay under ~10% — at a 0.10 cutoff the hottest entity words
# were being stripped from every signature (measured: cross-entity record
# pairs with IDENTICAL residual signatures scoring 1.0).
TURN_STOP_DF = 0.20


def canonical_turns(turns: DataFrame) -> DataFrame:
    """Stage 1: per-turn canonical text under stable (conv_id, turn_idx) order.

    The per-turn text invariant (BASELINE.json input_hint) is checked against
    plans/oracle.reference_canonicalize on this output.
    """
    return turns.select(
        "conv_id",
        "turn_idx",
        "role",
        F.coalesce("tool", F.lit("")).alias("tool"),
        canonicalize_text("text").alias("text"),
        "ts",
    )


# A token enters the record signature only when it occurs in a strict
# majority of the conversation's turns: entity-mention tokens repeat every
# turn (one injected typo still leaves them over 0.5 even in a 4-turn
# conversation), while context tokens (cities, in 1/3 of turn templates)
# rarely clear it. A 0.75 cutoff was tried and is WORSE: with 4 turns it
# demands a perfect 4/4, so a single typo deleted discriminative tokens
# from ~15% of short records.
MAJORITY_TURN_FRACTION = 0.5


def _run_starts(sorted_toks) -> Column:
    """array<int> of the 1-based positions where a new run begins in a
    SORTED token multiset array. `sorted_toks` must be a bound attribute
    (the shingles() lesson: a raw expression tree re-evaluates per
    element). try_element_at: ANSI mode (Spark 4 default) makes plain
    element_at throw on the i-1 = 0 probe even though the OR disjunct never
    consumes it — boolean operands are evaluated eagerly under vectorized
    codegen. Guard the degenerate sequence: sequence(1, 0) steps BACKWARD
    in Spark ([1, 0]), so an empty conversation must short-circuit."""
    n = F.size(sorted_toks)
    starts = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (i == 1)
        | (
            F.try_element_at(sorted_toks, i)
            != F.try_element_at(sorted_toks, i - 1)
        ),
    )
    return F.when(n == 0, F.array().cast("array<int>")).otherwise(starts)


def _token_runs(sorted_toks, starts) -> Column:
    """array<struct<token,cnt>> of run-length counts over a SORTED token
    multiset array given its `_run_starts` positions — the in-array
    replacement for the exploded (conv_id, token) -> count aggregate.
    O(n + d) total per conversation (n = multiset size, d = distinct
    tokens), all JVM expressions.

    BOTH arguments must be bound attributes, and `starts` in particular
    must be projected in a SEPARATE step: higher-order-function lambdas are
    interpreted (no codegen, no common-subexpression elimination), so a raw
    `starts` expression tree inlined here re-evaluates the O(n) filter for
    EVERY run element — O(d*n) per row with O(d) sequence/filter array
    allocations, a ~100x corpus-pass blowup measured at bench64. The
    two-step projection survives Catalyst's CollapseProject because
    `starts` is non-cheap and multiply referenced. The run-end positions
    (starts shifted left, capped by n+1) are built ONCE per row as plain
    zip_with arguments; only O(1) element_at probes live inside the
    lambda."""
    n = F.size(sorted_toks)
    ends = F.concat(
        F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
        F.array(n + 1),
    )
    runs = F.zip_with(
        starts,
        ends,
        lambda s, e: F.struct(
            F.element_at(sorted_toks, s).alias("token"),
            (e - s).cast("int").alias("cnt"),
        ),
    )
    empty = F.array().cast("array<struct<token:string,cnt:int>>")
    return F.when(F.size(starts) == 0, empty).otherwise(runs)


def conversation_records(
    canon: DataFrame,
    cfg: ERConfig = ERConfig(),
    embed: bool = True,
    with_text: bool = True,
    materialize=None,
    token_source: DataFrame | None = None,
    frozen_stops: tuple[DataFrame, DataFrame] | None = None,
    vocab_out: dict | None = None,
) -> DataFrame:
    """Stage 2: one feature row per conversation, built around ONE fused
    corpus-wide aggregate.

    Shape chosen for the memory-bandwidth roofline (BENCH/BASELINE.md): the
    previous formulation exploded every turn's distinct tokens into a
    (conv_id, token) fact — ~12x more rows than turns — then paid a wide
    hash-aggregate + shuffle on (conv_id, token), a SECOND shuffle for the
    per-conversation majority collect_set, a conv_id join to attach
    n_turns, and THREE materialize barriers. This formulation ships each
    turn's token array INTACT through a single groupBy(conv_id) shuffle
    (one row per turn, ~4-5x fewer shuffled bytes than the exploded fact),
    computes per-token turn counts IN-ARRAY as run lengths over the sorted
    flattened multiset (_token_runs — pure JVM expressions, CPU that scales
    where shuffle bandwidth does not), and fuses the conversation-metadata
    aggregate (role_sig, n_turns, record_text) into the SAME groupBy — so
    the whole records stage is ONE corpus-scale shuffle behind ONE barrier,
    with no (conv,token)-granular exchange, no majority join, and no
    second corpus aggregate. Measured (pinned local[8],
    tools/profile_records.py): records stage 91.3s at bench64 / 31.8s at
    bench16 vs ~160s / ~50s for the exploded shape — identical output.

    `with_text=False` drops the record_text sorted-concat from the fused
    aggregate entirely (the ER path never reads it). `token_source`
    optionally supplies the (conv_id, turn_idx, tool, text) frame the fused
    aggregate reads instead of `canon` — er_pipeline passes the RAW turns:
    tokens() is invariant under canonicalize_text (every character class it
    rewrites — \\n \\r \\t and space runs — is inside the [^a-z0-9]+ split
    class; pinned by test_canonicalize), and role_sig/n_turns read tool/
    turn_idx, which canonical_turns passes through unchanged (tool nulls
    are excluded by the `tool != ''` predicate either way). record_text
    must come from CANON text, so `with_text=True` + `token_source` is
    rejected. `materialize` is an optional DataFrame -> DataFrame hook
    applied to the fused aggregate (its 3-4 downstream consumers'
    differently-pruned subtrees defeat exchange reuse).

    Signature tokens are selected by THREE frequency filters (all pure
    expressions/aggregations, no Python):

      * corpus-level turn DF: tokens occurring in > 20% of ALL turns are
        boilerplate (prompt/template vocabulary) — a bounded aggregate over
        the exploded run structs (map-side-collapsing: vocabulary-sized
        shuffle), folded back as a broadcast 1-row array.
      * within-conversation strict majority: a token counts only if it
        occurs in > 50% of the conversation's turns — a per-row filter over
        the run counts, no join (n_turns lives on the same row).
      * cross-conversation document frequency: surviving tokens in > 30% of
        conversations are dropped (residual boilerplate safety net).

    Output: rid (=conv_id), record_text, role_sig, tokens (sorted, distinct),
    name_key (sorted tokens joined), embedding.

    Incremental hooks (streaming/incremental_er.py): `frozen_stops` is a
    pair of 1-row DataFrames ((stop1_arr), (stop_arr)) — typically read back
    from a committed ER state — that REPLACE the two corpus-global stop-set
    aggregates, so a delta batch is canonicalized under the base corpus's
    vocabulary (exactness of the frozen-vocabulary fast path is then
    certified by the caller's drift check, not assumed). `vocab_out`, when
    a dict, receives the lazy vocabulary aggregates of THIS input —
    turn_df (token, tdf), n_turns_total (1 row), record_df (token, df),
    n_records (1 row), stop1/stop (the 1-row stop frames actually used) —
    letting the caller combine base + delta document frequencies exactly
    without a second pass over the turns.
    """
    if with_text and token_source is not None:
        raise ValueError(
            "with_text=True aggregates record_text from the canonicalized "
            "turns; a separate token_source would concat RAW text — "
            "tokenize the canon frame instead (token_source=None)."
        )
    mat = materialize if materialize is not None else (lambda df: df)
    src = token_source if token_source is not None else canon
    per_turn = src.select(
        "conv_id",
        "turn_idx",
        "tool",
        *(["text"] if with_text else []),
        F.array_distinct(tokens(F.col("text"))).alias("toks"),
    )
    aggs = [
        F.array_join(
            F.array_sort(F.collect_set(F.when(F.col("tool") != "", F.col("tool")))),
            ",",
        ).alias("role_sig"),
        # size(collect_set) == count(distinct), but count(distinct) plans a
        # SECOND corpus-wide exchange keyed (conv_id, turn_idx) whose
        # partial aggregate reduces ~nothing ((conv, turn) is near-unique);
        # the set dedupes inside the map-side buffer instead. Bounded: a
        # set holds at most the conversation's turn count.
        F.size(F.collect_set("turn_idx")).alias("n_turns"),
        # the token MULTISET of the conversation, one distinct-token array
        # per turn: multiset count of a token == number of turns containing
        # it, exactly the n_tok_turns of the exploded formulation.
        F.array_sort(F.flatten(F.collect_list("toks"))).alias("sorted_toks"),
    ]
    if with_text:
        aggs.insert(
            0,
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("record_text"),
        )
    fused = per_turn.groupBy("conv_id").agg(*aggs)
    # runs computed in TWO separate projections so both sorted_toks and
    # starts are bound attributes (see _token_runs: an inlined starts
    # expression re-evaluates per element — the bench64 blowup); the
    # barrier stores runs (distinct tokens + counts), not the raw
    # multiset — fewer bytes per row through the parquet snapshot.
    passthrough = [
        "conv_id",
        *(["record_text"] if with_text else []),
        "role_sig",
        "n_turns",
    ]
    fused = fused.select(
        *passthrough,
        "sorted_toks",
        _run_starts(F.col("sorted_toks")).alias("starts"),
    )
    fused = mat(
        fused.select(
            *passthrough,
            _token_runs(F.col("sorted_toks"), F.col("starts")).alias("runs"),
        )
    )
    # corpus boilerplate by turn document-frequency, FULLY DECLARATIVE: the
    # total-turn count is a broadcast 1-row aggregate and the stop set is a
    # bounded aggregate folded back as a broadcast 1-row array — no driver
    # collect()s. The explode here is of RUN STRUCTS (distinct tokens per
    # conversation) feeding a token-keyed sum whose map-side partial
    # collapses to vocabulary size — a tiny shuffle, not a corpus fact.
    n_turns_total = fused.groupBy().agg(
        F.sum("n_turns").alias("n_turns_total")
    )
    turn_df = (
        fused.select(F.explode("runs").alias("r"))
        .groupBy(F.col("r.token").alias("token"))
        .agg(F.sum("r.cnt").alias("tdf"))
    )
    if frozen_stops is not None:
        stop1_one_row = frozen_stops[0].select("stop1_arr")
    else:
        turn_stop_df = (
            turn_df.crossJoin(F.broadcast(n_turns_total))
            .filter(F.col("tdf") > TURN_STOP_DF * F.col("n_turns_total"))
            .select("token")
        )
        stop1_one_row = turn_stop_df.groupBy().agg(
            F.collect_list("token").alias("stop1_arr")
        )
    # majority filter + turn-stop subtraction, per row: a token enters the
    # signature iff its turn count clears the strict majority AND it is not
    # corpus boilerplate. Commutes with the old anti-join-then-filter order
    # because the majority predicate is per-token independent. runs are
    # sorted (inherited from sorted_toks), so tokens_all stays sorted.
    empty_s = F.array().cast("array<string>")
    recs = fused.crossJoin(F.broadcast(stop1_one_row)).select(
        F.col("conv_id").alias("rid"),
        *(["record_text"] if with_text else []),
        "role_sig",
        F.transform(
            F.filter(
                F.col("runs"),
                lambda r: (
                    r["cnt"] > MAJORITY_TURN_FRACTION * F.col("n_turns")
                )
                & ~F.array_contains(
                    F.coalesce(F.col("stop1_arr"), empty_s), r["token"]
                ),
            ),
            lambda r: r["token"],
        ).alias("tokens_all"),
    )
    # cross-conversation stop tokens: same broadcast-aggregate pattern
    n_docs = recs.groupBy().agg(F.count("*").alias("n_docs"))
    record_df = (
        recs.select(F.explode("tokens_all").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    if frozen_stops is not None:
        stop_one_row = frozen_stops[1].select("stop_arr")
    else:
        common_df = (
            record_df.crossJoin(F.broadcast(n_docs))
            .filter(F.col("df") > STOP_TOKEN_DF * F.col("n_docs"))
            .select(F.col("token").alias("stop_token"))
        )
        # fold the (bounded, tiny) stop set back in as a scalar-subquery-
        # style cross join of a 1-row aggregate (global agg always yields
        # exactly one row, empty stop set -> empty array)
        stop_one_row = common_df.groupBy().agg(
            F.collect_list("stop_token").alias("stop_arr")
        )
    if vocab_out is not None:
        vocab_out.update(
            turn_df=turn_df,
            n_turns_total=n_turns_total,
            record_df=record_df,
            n_records=n_docs,
            stop1=stop1_one_row,
            stop=stop_one_row,
        )
    recs = (
        recs.crossJoin(F.broadcast(stop_one_row))
        .withColumn(
            "tokens",
            F.array_sort(
                F.array_except(
                    F.col("tokens_all"),
                    F.coalesce(F.col("stop_arr"), F.array().cast("array<string>")),
                )
            ),
        )
        .drop("stop_arr")
        .withColumn("name_key", F.array_join(F.col("tokens"), " "))
    )
    text_cols = ["record_text"] if with_text else []
    if not embed:
        # the ER pipeline embeds per SIGNATURE (embedding is a pure function
        # of name_key), so per-record embedding would be wasted Arrow work
        return recs.select("rid", *text_cols, "role_sig", "tokens", "name_key")
    recs = recs.withColumn("embedding", embed_udf(F.col("name_key")))
    return recs.select(
        "rid", *text_cols, "role_sig", "tokens", "name_key", "embedding"
    )


def signature_records(records: DataFrame) -> DataFrame:
    """Stage 2b: collapse records to distinct signatures (exact dedup).

    Records with identical name_key have identical tokens (name_key is the
    sorted-distinct token join) and identical embeddings (a pure function of
    name_key), so every pairwise sim between them is 1.0 and the fused score
    is exactly 1.0 >= any sane threshold: they provably land in one cluster.
    Fuzzy blocking/scoring/clustering therefore runs once per signature.

    Output: sid (min member rid — deterministic representative), name_key,
    tokens, role_sigs (sorted array of (role_sig, rs_n) structs — blocking
    emits one composite key per distinct member role_sig, preserving
    record-level blocking recall, and rs_n carries the member count so
    block purging can weigh blocks by RECORD mass), n_members, embedding.
    """
    # tokens is a pure function of name_key (name_key = array_join(tokens,
    # ' ') and tokens are space-free by the [^a-z0-9]+ split): when the
    # caller hands a SLIM records frame (er_pipeline drops the token array
    # from the corpus-sized persist — ~40% fewer cached/decoded bytes per
    # record), re-derive it here on the collapsed signature rows instead.
    have_tokens = "tokens" in records.columns
    by_rs = records.groupBy("name_key", "role_sig").agg(
        F.count("*").alias("rs_n"), F.min("rid").alias("rs_min_rid"),
        *([F.first("tokens").alias("tokens")] if have_tokens else []),
    )
    sig = by_rs.groupBy("name_key").agg(
        F.min("rs_min_rid").alias("sid"),
        *([F.first("tokens").alias("tokens")] if have_tokens else []),
        F.array_sort(
            F.collect_list(F.struct("role_sig", "rs_n"))
        ).alias("role_sigs"),
        F.sum("rs_n").alias("n_members"),
    )
    if not have_tokens:
        sig = sig.withColumn(
            "tokens",
            F.when(
                F.col("name_key") == "", F.array().cast("array<string>")
            ).otherwise(F.split("name_key", " ")),
        )
    return sig.select(
        "sid",
        "name_key",
        "tokens",
        "role_sigs",
        "n_members",
        embed_udf(F.col("name_key")).alias("embedding"),
    )


def block_membership(records: DataFrame, cfg: ERConfig = ERConfig()) -> DataFrame:
    """Stage 3 (record-level API): LSH band keys (MinHash over signature
    tokens) ∪ composite structural key; oversized blocks purged, residual
    hot keys salted."""
    keys = F.concat(
        minhash_band_keys(F.col("tokens"), cfg.num_hashes, cfg.band_rows),
        F.array(composite_key(F.col("role_sig"), F.col("tokens"))),
    )
    membership = explode_blocks(records, "rid", keys)
    # purge first (collision blocks carry no signal), salt what remains —
    # with purge <= cap the salt pass is an inert guard for custom configs
    membership = purge_oversized(membership, cfg.purge_block_size)
    return cap_block_size(membership, cfg.max_block_size)


def signature_block_membership(
    sig: DataFrame, cfg: ERConfig = ERConfig()
) -> DataFrame:
    """Stage 3 over signatures: band keys from tokens (identical to the
    record-level keys), plus ONE composite key per member role_sig — the
    union over members — so any record pair that would have blocked on its
    composite key still blocks at signature level.

    Purging weighs each block by RESIDUAL record mass — records outside the
    block's dominant signature (operators/blocking.purge_oversized_by_mass,
    measured rationale there). This is the precision guard: collision
    blocks (degenerate signatures, coarse composite keys) spread mass over
    many entities' signatures and are purged; a heavily-duplicated single
    entity's blocks concentrate mass in one signature and survive no matter
    how large the entity is. (Measured: signature-COUNT purging chain-
    merged 1700 entities into 761 clusters at bench16; TOTAL-mass purging
    fragmented them into 6247 at bench32; residual-mass yields 1774
    clusters at bench32 with sampled pairwise precision 1.0 and
    F1 0.99995.)"""
    membership = signature_block_membership_raw(sig, cfg, id_col="sid")
    membership = purge_oversized_by_mass(
        membership, cfg.purge_block_size, "mass"
    )
    return cap_block_size(membership.select("block_key", "rid"), cfg.max_block_size)


def signature_block_membership_raw(
    sig: DataFrame, cfg: ERConfig = ERConfig(), id_col: str = "sid"
) -> DataFrame:
    """UNPURGED (block_key, rid, mass) membership of a signature frame —
    the shared candidate-key generator behind signature_block_membership
    (which purges + salts it) and the incremental updater (which must
    re-evaluate the purge decision on base + delta masses combined, so it
    needs the raw rows). `id_col` selects which signature column becomes
    the membership `rid` (sid for the batch pipeline, the stable skey for
    the incremental state)."""
    bands = sig.select(
        F.explode(
            minhash_band_keys(F.col("tokens"), cfg.num_hashes, cfg.band_rows)
        ).alias("block_key"),
        F.col(id_col).alias("rid"),
        F.col("n_members").alias("mass"),
    )
    comps = sig.select(
        F.explode(F.col("role_sigs")).alias("rs"), id_col, "tokens"
    ).select(
        composite_key(F.col("rs.role_sig"), F.col("tokens")).alias("block_key"),
        F.col(id_col).alias("rid"),
        F.col("rs.rs_n").alias("mass"),
    )
    return bands.unionByName(comps)


def _materialize_stage(df: DataFrame) -> DataFrame:
    """Compute-once + lineage-truncating barrier for a multi-consumer
    intermediate, realized as a PARQUET snapshot under the session's
    checkpoint root (durable shared storage on a cluster, tmpfs in the
    bench harness).

    Why parquet and not persist+checkpoint (the previous shape): an RDD
    checkpoint costs compute -> cache write -> checkpoint-job cache read ->
    lz4 row write -> per-consumer row read — every corpus-scale row crosses
    memory ~4x, in a stage that is already memory-bandwidth-bound (the
    binding constraint on N->4N scaling; BENCH/BASELINE.md). The parquet
    barrier computes the plan ONCE inside the write job, stores
    dictionary+RLE-compressed columns (the (conv_id, token, n) token-count
    table compresses far below its row form), and — the part checkpoints
    can never do — lets each consumer read ONLY its columns: the stop-token
    aggregate scans (token, n_tok_turns) and never touches conv_id bytes.
    Lineage truncation is identical (consumers plan against a fresh scan
    leaf), durability is better (files survive executor loss by
    construction), and the measured records stage moves strictly fewer
    bytes per turn. Files are reclaimed at interpreter exit (the same
    lifecycle the bench harness already wipes); a long-lived service should
    point SPARK_GRAFT_CHECKPOINT_DIR at storage with a TTL policy."""
    import atexit
    import shutil
    import uuid

    from tabiya_livelihoods_classifier_spark.session import ensure_checkpoint_dir

    spark = df.sparkSession
    ensure_checkpoint_dir(spark)
    root = spark.sparkContext.getCheckpointDir()
    path = f"{root}/stage-{uuid.uuid4().hex}"
    df.write.parquet(path)
    if path.startswith(("file:", "/")):
        atexit.register(
            shutil.rmtree, path.removeprefix("file:"), ignore_errors=True
        )
    return spark.read.parquet(path)


def er_pipeline(
    spark: SparkSession,
    turns: DataFrame,
    cfg: ERConfig = ERConfig(),
    timings: dict | None = None,
) -> dict[str, DataFrame]:
    """Run stages 1-5; return every intermediate (for tests/lineage) + clusters.

    clusters: (rid, component) where component is the min conv_id of the
    connected component — deterministic cluster representative. (Each
    signature's sid is its min member rid, so min-over-sids == min-over-rids
    and the representative is identical with or without the collapse.)

    membership/pairs/scored/edges are at SIGNATURE granularity (ids are
    sids); clusters is back at record granularity.
    """
    # optional stage timing (bench decomposition): the eager parquet
    # barrier makes conversation_records() a synchronous corpus-scale
    # stage, and connected_components() eagerly collects its edge probe
    # (and, past the driver budget, checkpoints eagerly), so wall-clock
    # around these calls attributes records vs tail honestly.
    import time as _time

    _t0 = _time.perf_counter()
    canon = canonical_turns(turns)
    # SLIM projection before persist: the ER stages only consume
    # (rid, role_sig, tokens, name_key). Persisting the full record row
    # would force materialization of record_text — the sorted-concat of
    # every turn's text, an ObjectHashAggregate collecting ~the whole
    # corpus — which NOTHING downstream of stage 2 reads; dropping it
    # before the persist lets Catalyst prune the text-collection aggregate
    # out of the plan entirely (a corpus-sized shuffle that existed only to
    # be cached and ignored).
    records = conversation_records(
        canon,
        cfg,
        embed=False,
        # the ER stages never read record_text: with_text=False removes the
        # corpus-sized sorted-concat from the per-conversation aggregate
        with_text=False,
        # materialize the fused multi-consumer aggregate: its consumers'
        # differently-pruned subtrees defeat exchange reuse, so without the
        # barrier the corpus-wide groupBy would run once per consumer
        materialize=_materialize_stage,
        # tokenize the raw turns, not the canonicalized projection: token
        # output is provably identical (see conversation_records docstring)
        # and the with_text=False ER plan then never evaluates the
        # canonicalize regex at all.
        token_source=turns,
    )
    # SLIM the corpus-sized persist to (rid, role_sig, name_key): tokens is
    # re-derivable from name_key at SIGNATURE granularity (2-3 orders of
    # magnitude fewer rows), so caching the token array per record buys
    # nothing downstream and costs ~40% of the cache/decode bytes.
    records = records.select("rid", "role_sig", "name_key")
    if timings is not None:
        timings["records_s"] = round(_time.perf_counter() - _t0, 3)
        _t0 = _time.perf_counter()
    # records feed the signature collapse AND the final rid->component map
    records = records.persist()
    sig = signature_records(records).persist()
    membership = signature_block_membership(sig, cfg)
    pairs = candidate_pairs(membership, cfg.min_common_blocks)
    feats = sig.select(
        F.col("sid").alias("rid"), "name_key", "tokens", "embedding"
    )
    scored = score_pairs(pairs, feats, cfg)
    edges = match_edges(scored, cfg)
    sig_clusters = connected_components(
        edges, nodes=sig.select(F.col("sid").alias("rid"))
    )
    if timings is not None:
        timings["tail_s"] = round(_time.perf_counter() - _t0, 3)
    clusters = (
        records.select("rid", "name_key")
        .join(sig.select("name_key", "sid"), "name_key")
        .join(
            sig_clusters.select(
                F.col("rid").alias("sid"), "component"
            ),
            "sid",
        )
        .select("rid", "component")
    )
    return {
        "canon": canon,
        "records": records,
        "signatures": sig,
        "membership": membership,
        "pairs": pairs,
        "scored": scored,
        "edges": edges,
        "clusters": clusters,
    }
