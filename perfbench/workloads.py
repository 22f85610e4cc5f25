"""The benchmark workloads: one closed-loop client, no think time.

A workload builds its inputs from the seed, warms the session, then runs
*cycles*. One cycle is the unit a user waits for:

* ``battery`` — all 45 ``QUERIES`` over the sf0.001 tables, in a
  seed-permuted order, each forced by collecting its result as Arrow. The
  session is warmed first: the battery models a long-lived session that
  serves many queries.
* ``er`` — the durable ER job on a transcript corpus: commit a 95% base
  state with ``commit_er_state`` (the batch pipeline's stages plus seven
  ``StageStore`` parts), then fold the 5% entity-slice delta into it with
  ``incremental_er_update``. There is no warm-up: a batch job is a fresh
  application, so JIT, codegen and Python-worker start-up are part of what
  its user waits for.

Outputs are checked after the timed window: battery results against each
query's DuckDB oracle; ER clusters against the single-process reference
pipeline (``plans.oracle``, which ``er_pipeline`` is tested equal to) and
against the gold entity labels.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import inputs

# `data.transcripts.SCALES` names: 1,000 and 60 conversations
ER_SCALE = "s"
SMOKE_ER_SCALE = "xs"
MIN_F1 = 0.99

# query -> family, for the per-layer rollups
FAMILIES = {
    "relational": (1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 25, 27, 28, 29, 30, 31, 32, 33),
    "similarity": (12, 13, 14, 15, 16, 34, 42, 44),
    "topk": (20, 21, 22, 38, 41),
    "graph": (23, 24, 26, 39, 45),
    "text": (17, 18, 19, 35, 36, 37, 40, 43),
}


def family_of(query: str) -> str:
    n = int(query[1:3])
    return next(f for f, qs in FAMILIES.items() if n in qs)


@dataclass
class Cycle:
    work_s: float
    attempted: int
    failed: list[str] = field(default_factory=list)
    timings: dict = field(default_factory=dict)
    outputs: dict = field(default_factory=dict)


class Battery:
    name = "battery"

    def __init__(self, spark, work: Path, seed: int, smoke: bool) -> None:
        from tabiya_livelihoods_classifier_spark.plans import queries

        self.spark, self.work, self.seed = spark, work, seed
        self.queries = queries.QUERIES
        self.oracle_sql = queries.ORACLE_SQL
        self.order = sorted(self.queries)
        random.Random(seed).shuffle(self.order)
        self.sizes: dict = {}
        self.tables = inputs.BATTERY_TABLES
        self._oracle: dict = {}  # query -> (columns, normalized rows)

    def build(self, i: int) -> None:
        """The tables ship with the benchmark; only their sizes are read."""
        self.sizes = inputs.table_rows(self.tables)

    def warm_up(self) -> None:
        """JVM, codegen, Arrow and the Python worker pool, as bench.py
        warms them: one relational query and one Arrow UDF job."""
        from pyspark.sql import functions as F

        from tabiya_livelihoods_classifier_spark.functions.strsim import (
            jaro_winkler_udf,
        )

        os.environ["SPARK_GRAFT_STAGE_DIR"] = str(self.work / "stages-warm")
        self.queries["q01_pricing_summary"](self.spark, str(self.tables)).toArrow()
        cores = self.spark.sparkContext.defaultParallelism
        self.spark.range(cores * 8).repartition(cores).select(
            jaro_winkler_udf(F.lit("warm"), F.lit("warm"))
        ).toArrow()

    def cycle(self, tracer, idx) -> Cycle:
        # a fresh stage store per cycle: the memoized similarity / top-k
        # stages are computed, never read from an earlier cycle
        os.environ["SPARK_GRAFT_STAGE_DIR"] = str(self.work / f"stages-{idx}")
        times, results, failed = {}, {}, []
        for name in self.order:
            with tracer.span(f"queries.{name}"):
                t0 = time.perf_counter()
                try:
                    results[name] = self.queries[name](
                        self.spark, str(self.tables)
                    ).toArrow()
                except Exception as exc:  # one failed query must not end the run
                    failed.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                times[name] = time.perf_counter() - t0
        return Cycle(
            work_s=sum(times.values()),
            attempted=len(self.order),
            failed=failed,
            timings=times,
            outputs=results,
        )

    def check(self, cyc: Cycle) -> list[str]:
        """Row count, column names and value multiset of every result
        against the query's ORACLE_SQL on DuckDB (run once per query)."""
        bad = []
        for name, table in cyc.outputs.items():
            ocols, orows = self.oracle(name)
            scols = table.column_names
            srows = list(zip(*(table.column(c).to_pylist() for c in scols)))
            if sorted(scols) != sorted(ocols):
                bad.append(f"{name}: columns {sorted(scols)} != {sorted(ocols)}")
            elif len(srows) != len(orows):
                bad.append(f"{name}: {len(srows)} rows != oracle {len(orows)}")
            elif _normalize(srows, scols) != orows:
                bad.append(f"{name}: values differ from the oracle")
        return bad

    def oracle(self, name: str) -> tuple[list[str], list]:
        if not self._oracle:
            import duckdb

            con = duckdb.connect()
            try:
                for t in self.sizes:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'"
                    )
                for q, sql in self.oracle_sql.items():
                    rel = con.execute(sql)
                    cols = [d[0] for d in rel.description]
                    self._oracle[q] = (cols, _normalize(rel.fetchall(), cols))
            finally:
                con.close()
        return self._oracle[name]

    def summary(self, cycles: list[Cycle]) -> dict[str, float]:
        return {"battery_total_s": statistics.median(c.work_s for c in cycles)}

    def details(self, cyc: Cycle) -> dict[str, float]:
        return {}

    def patches(self) -> list:
        """(owner, attribute, span, force) for the traced cycle. Queries
        force themselves; spans only split out the eager parts. Queries
        import these names inside their bodies, so the defining module is
        the one to patch."""
        from tabiya_livelihoods_classifier_spark import storage
        from tabiya_livelihoods_classifier_spark.operators import clustering, graph

        return [
            (storage.StageStore, "commit", "storage.commit", False),
            (clustering, "connected_components", "clustering", False),
            (graph, "transitive_ancestors", "clustering.closure", False),
        ]


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


class ER:
    name = "er"

    def __init__(self, spark, work: Path, seed: int, smoke: bool) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.scale = SMOKE_ER_SCALE if smoke else ER_SCALE
        self.cores = spark.sparkContext.defaultParallelism
        self.corpus: inputs.Corpus | None = None

    @property
    def sizes(self) -> dict:
        c = self.corpus
        return {"turns": c.n_turns, "base_turns": c.n_base_turns,
                "conversations": c.n_convs,
                "delta_conversations": c.n_delta_convs,
                "scale": self.scale}

    def build(self, i: int) -> None:
        self.corpus = inputs.write_er_corpus(
            self.work / f"corpus-{i}", self.scale, self.seed, n_files=self.cores
        )

    def warm_up(self) -> None:
        """None: the cycle is the cold batch job (see the module doc)."""

    def cycle(self, tracer, idx) -> Cycle:
        from tabiya_livelihoods_classifier_spark.streaming.incremental_er import (
            ERStateStore,
            commit_er_state,
            incremental_er_update,
        )

        read = self.spark.read.parquet
        timings: dict = {}
        outputs: dict = {}
        failed: list[str] = []
        store = ERStateStore(self.spark, self.work / f"state-{idx}")
        step = "commit"
        try:
            with tracer.span("incremental_er.commit"):
                t0 = time.perf_counter()
                commit_er_state(self.spark, store, read(str(self.corpus.base)))
                timings["commit_s"] = time.perf_counter() - t0
            step = "update"
            phases: dict = {}
            with tracer.span("incremental_er.update"):
                t0 = time.perf_counter()
                report = incremental_er_update(
                    self.spark, store, read(str(self.corpus.delta)),
                    timings=phases,
                )
                timings["update_s"] = time.perf_counter() - t0
            outputs.update(store=store, report=report, phases=phases)
        except Exception as exc:  # one failed step must not end the run
            failed.append(f"{step}: {type(exc).__name__}: {exc}"[:300])
            if step == "commit":
                failed.append("update: not run, the commit failed")
        self.spark.catalog.clearCache()
        return Cycle(
            work_s=sum(timings.values()),
            attempted=2,
            failed=failed,
            timings=timings,
            outputs=outputs,
        )

    def check(self, cyc: Cycle) -> list[str]:
        """The committed base clusters equal the reference pipeline on the
        base turns; the folded clusters equal it on the whole corpus and
        reach MIN_F1 against the gold labels. At most one finding per
        step."""
        from tabiya_livelihoods_classifier_spark.plans.evaluate import (
            labeled_pairs_sampled,
            pairwise_f1,
        )
        from tabiya_livelihoods_classifier_spark.plans.oracle import oracle_pipeline

        if "store" not in cyc.outputs:
            return []  # the failed steps are already counted
        c, store = self.corpus, cyc.outputs["store"]
        bad = []
        base = _rows(store.read_part(0, "clusters"))
        want = oracle_pipeline(c.frame[~c.is_delta])["clusters"]
        if base != sorted(want.items()):
            bad.append(f"commit: {len(base)} cluster rows differ from the "
                       f"reference's {len(want)}")
        folded = _rows(store.clusters())
        want = oracle_pipeline(c.frame)["clusters"]
        f1 = pairwise_f1(dict(folded), labeled_pairs_sampled(c.gold, self.seed))
        cyc.timings["pairwise_f1"] = f1.f1
        cyc.timings["components"] = len({comp for _, comp in folded})
        if folded != sorted(want.items()):
            bad.append(f"update: {len(folded)} cluster rows differ from the "
                       f"reference's {len(want)}")
        elif f1.f1 < MIN_F1:
            bad.append(f"update: pairwise F1 {f1.f1:.4f} < {MIN_F1}")
        return bad

    def summary(self, cycles: list[Cycle]) -> dict[str, float]:
        done = [c for c in cycles if "update_s" in c.timings]
        if not done:
            return {}
        commit_s = statistics.median(c.timings["commit_s"] for c in done)
        out = {
            "er_turns_per_s": self.corpus.n_base_turns / commit_s,
            "inc_commit_s": commit_s,
            "inc_update_s": statistics.median(c.timings["update_s"] for c in done),
        }
        if all("pairwise_f1" in c.timings for c in done):
            out["er_pairwise_f1"] = statistics.median(c.timings["pairwise_f1"] for c in done)
        return out

    def details(self, cyc: Cycle) -> dict[str, float]:
        """The fold's own phase clocks and work counters."""
        if "report" not in cyc.outputs:
            return {}  # the cycle failed
        rep = cyc.outputs["report"]
        out = {
            "incremental_er.rescore_sigs": rep["n_rescore_sigs"],
            "incremental_er.affected_components": rep["n_affected_components"],
            "clustering.components": cyc.timings["components"],
        }
        for phase, secs in cyc.outputs["phases"].items():
            out[f"incremental_er.update.{phase}_s"] = secs
        return out

    def patches(self) -> list:
        """The incremental module binds the stage functions at import, so
        its bindings are the ones patched. The rid -> component compose
        join runs inside the ``clusters`` part commit."""
        from tabiya_livelihoods_classifier_spark import storage
        from tabiya_livelihoods_classifier_spark.streaming import incremental_er

        def compose(store, gen, part, *args, **kwargs):
            return "pipeline.compose" if part == "clusters" else None

        return [
            (storage.StageStore, "commit", "storage.commit", False),
            (incremental_er.ERStateStore, "commit_part", compose, False),
            (incremental_er, "conversation_records", "pipeline.records", True),
            (incremental_er, "signature_records", "pipeline.signatures", True),
            (incremental_er, "signature_block_membership_raw",
             "pipeline.membership", True),
            (incremental_er, "candidate_pairs", "blocking.pairs", True),
            (incremental_er, "score_pairs", "scoring.score_pairs", True),
            (incremental_er, "match_edges", "scoring.match_edges", True),
            (incremental_er, "connected_components", "clustering", True),
        ]


def _rows(df) -> list[tuple]:
    t = df.select("rid", "component").toArrow()
    return sorted(zip(t.column("rid").to_pylist(), t.column("component").to_pylist()))


WORKLOADS = {Battery.name: Battery, ER.name: ER}
