"""Capture `.explain("formatted")` for battery queries into text files.

Usage: python tools/explain_query.py <out_dir> <suffix> [sf_dir] [query ...]

Writes <out_dir>/<query>_<suffix>.txt for each query (default: all).
Runs on local[$SPARK_GRAFT_CPUS] (local[*] when unset), the core count
bench.py plans for, so captured plans match the benchmarked ones.
Plan-build side effects (StageStore commits for staged queries) go to
SPARK_GRAFT_STAGE_DIR; point it somewhere persistent so repeated captures
reuse the committed stages instead of re-materializing them.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    out_dir = Path(sys.argv[1])
    suffix = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    only = set(sys.argv[4:])
    out_dir.mkdir(parents=True, exist_ok=True)

    import __spark_entry__ as entry
    from tabiya_livelihoods_classifier_spark.plans import queries as Q
    from tabiya_livelihoods_classifier_spark.session import get_spark

    spark = get_spark(app_name="explain", shuffle_partitions=8)
    # staged queries (q12/q14/q22...) explain as a bare snapshot read; the
    # *_plan entries expose the computation behind the commit
    inner = {
        "q12_plan": Q._jaccard_pairs_plan,
        "q14_plan": Q._lsh_pairs_plan,
        "q22_plan": lambda s, d: Q._ivf_topk(s, d, 5),
        "knn_plan": lambda s, d: Q._knn_topk(s, d, max(Q.IR_K_GRID)),
    }
    for name, fn in {**entry.queries(), **inner}.items():
        if only and name not in only:
            continue
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = out_dir / f"{name}_{suffix}.txt"
        path.write_text(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
