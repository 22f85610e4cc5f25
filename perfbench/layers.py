"""Per-layer metrics of a traced cycle, named by package module.

``catalog()`` is the fixed list every traced run emits; a layer that a
workload does not reach reads 0 there.
"""

from __future__ import annotations

from spans import Profile, Span, rollup
from workloads import FAMILIES, family_of

# the phases `incremental_er_update(timings=...)` reports, in order
UPDATE_PHASES = (
    "delta_records_ridcheck", "drift_check", "signature_merge",
    "touched_purge", "rescore_set", "commit_membership", "commit_signatures",
    "commit_edges", "subgraph_cc", "commit_sig_clusters",
    "commit_clusters_overlay", "commit_vocab",
)
# layer -> predicate over a span name
LAYERS = {
    "pipeline.records": lambda n: n == "pipeline.records",
    "pipeline.signatures": lambda n: n == "pipeline.signatures",
    "pipeline.membership": lambda n: n == "pipeline.membership",
    "blocking.pairs": lambda n: n == "blocking.pairs",
    "scoring": lambda n: n.startswith("scoring."),
    "clustering": lambda n: n == "clustering" or n.startswith("clustering."),
    "pipeline.compose": lambda n: n == "pipeline.compose",
}
# spans whose time a layer accounts for: the layers above, the stage
# store's commits, and each battery query (a query is its own layer)
def covering(name: str) -> bool:
    return (
        name.startswith("queries.")
        or name == "storage.commit"
        or any(pred(name) for pred in LAYERS.values())
    )


FAMILY_METRICS = (
    ("jobs", "count"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
)


def catalog(query_names) -> list[tuple[str, str]]:
    out = [(f"queries.{q}.wall_s", "s") for q in sorted(query_names)]
    out += [
        (f"queries.{f}.{m}", u) for f in FAMILIES for m, u in FAMILY_METRICS
    ]
    for layer in LAYERS:
        out += [(f"{layer}.wall_s", "s"), (f"{layer}.jobs", "count"),
                (f"{layer}.executor_cpu_s", "s")]
    out += [
        ("pipeline.signatures_per_record", "ratio"),
        ("blocking.pairs_rows", "count"),
        ("scoring.edges_per_pair", "ratio"),
        ("clustering.components", "count"),
        ("storage.commits", "count"),
        ("storage.commit_s", "s"),
        ("storage.bytes_written", "bytes"),
    ]
    out += [(f"incremental_er.update.{p}_s", "s") for p in UPDATE_PHASES]
    out += [
        ("incremental_er.update.jobs", "count"),
        ("incremental_er.rescore_sigs", "count"),
        ("incremental_er.affected_components", "count"),
        ("session.start_s", "s"),
        ("data.generate_s", "s"),
        ("warmup_s", "s"),
        ("battery_total_s", "s"),
        ("er_turns_per_s", "1/s"),
        ("er_pairwise_f1", "ratio"),
        ("inc_commit_s", "s"),
        ("inc_update_s", "s"),
        ("failed_frac", "ratio"),
        ("trace.overhead_frac", "ratio"),
        ("trace.layer_cover_frac", "ratio"),
        ("trace.uncovered_s", "s"),
    ]
    return out


def _outermost(spans: list[Span], pred) -> list[Span]:
    """Spans matching `pred` with no matching ancestor (no double count)."""
    return [
        s for s in spans
        if pred(s.name) and not any(pred(a) for a in s.path.split("/")[:-1])
    ]


def layer_metrics(
    spans: list[Span],
    profiles: dict[str, Profile],
    untraced_wall_s: float,
    extra: dict[str, float],
) -> dict[str, float]:
    """Values for every catalog metric this trace reaches; `extra` carries
    the ones measured outside the spans (setup, workload timings,
    incremental report counters). The root span is the traced cycle."""
    m: dict[str, float] = dict(extra)
    for sp in spans:
        if sp.name.startswith("queries."):
            m[f"{sp.name}.wall_s"] = sp.wall_s
    for fam in FAMILIES:
        p = rollup(profiles, lambda el, fam=fam: any(
            e.startswith("queries.") and family_of(e[8:]) == fam for e in el
        ))
        m.update({
            f"queries.{fam}.jobs": p.jobs,
            f"queries.{fam}.executor_run_s": p.run_s,
            f"queries.{fam}.executor_cpu_s": p.cpu_s,
            f"queries.{fam}.shuffle_write_bytes": p.shuffle_write_bytes,
            f"queries.{fam}.spill_bytes": p.spill_bytes,
        })
    for layer, pred in LAYERS.items():
        p = rollup(profiles, lambda el, pred=pred: any(pred(e) for e in el))
        m[f"{layer}.wall_s"] = sum(s.wall_s for s in _outermost(spans, pred))
        m[f"{layer}.jobs"] = p.jobs
        m[f"{layer}.executor_cpu_s"] = p.cpu_s

    def rows(name: str) -> int:
        return sum(s.rows or 0 for s in spans if s.name == name)

    if rows("pipeline.records"):
        m["pipeline.signatures_per_record"] = (
            rows("pipeline.signatures") / rows("pipeline.records")
        )
    m["blocking.pairs_rows"] = rows("blocking.pairs")
    if rows("blocking.pairs"):
        m["scoring.edges_per_pair"] = (
            rows("scoring.match_edges") / rows("blocking.pairs")
        )
    commits = [s for s in spans if s.name == "storage.commit"]
    m["storage.commits"] = len(commits)
    m["storage.commit_s"] = sum(s.wall_s for s in commits)
    m["storage.bytes_written"] = rollup(
        profiles, lambda el: "storage.commit" in el
    ).output_bytes
    m["incremental_er.update.jobs"] = rollup(
        profiles, lambda el: "incremental_er.update" in el
    ).jobs
    root = next(s for s in spans if s.path == s.name)
    m["trace.overhead_frac"] = root.wall_s / untraced_wall_s - 1
    # Time inside layer spans, each counted once. The rest is the self time
    # of the wrappers (cycle, incremental_er.commit/update): work that no
    # layer span accounts for.
    covered = sum(s.wall_s for s in _outermost(spans, covering))
    m["trace.layer_cover_frac"] = covered / root.wall_s
    m["trace.uncovered_s"] = root.wall_s - covered
    return m
