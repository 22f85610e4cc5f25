"""The exact-cosine top-k kernel on small synthetic inputs.

Each case runs the numpy path (with default and with 7-row Arrow batches,
so a query's top-k spans batches), the relational path (gate forced to 0)
and a plain Python reference. The two Spark paths must agree bitwise; ids,
ranks and labels must equal the reference, sims to its rounding.
"""

from __future__ import annotations

import math
import random

import pytest

from tabiya_livelihoods_classifier_spark.plans import queries as Q
from tabiya_livelihoods_classifier_spark.session import arrow_frame

VEC_SCHEMA = "vec_id bigint, label int, q array<bigint>, nq bigint, grp string"


def _rows(n, dim, seed, lo=-2, hi=2, grp=lambda i: "a", start=0):
    """n nonzero integer vectors (ties and duplicates are frequent at this
    small value range), with a group key per vec_id."""
    rnd = random.Random(seed)
    out = []
    for i in range(start, start + n):
        q = [0] * dim
        while not any(q):
            q = [rnd.randint(lo, hi) for _ in range(dim)]
        out.append((i, i % 5, q, sum(x * x for x in q), grp(i)))
    return out


def _reference(queries, candidates, k, keyed, bounds):
    out = []
    for qid, qlab, qa, na, qg in queries:
        scored = []
        for cid, clab, qb, nb, cg in candidates:
            if cid == qid or (keyed and cg != qg):
                continue
            dot = sum(x * y for x, y in zip(qa, qb))
            sim = float(dot) / math.sqrt(float(na) * float(nb))
            if bounds is not None and (qg not in bounds or sim < bounds[qg]):
                continue
            scored.append((-sim, cid, clab))
        scored.sort()
        for rnk, (neg, cid, clab) in enumerate(scored[:k], 1):
            out.append((qid, cid, qlab, clab, *([qg] if keyed else []), -neg, rnk))
    return sorted(out)


# (queries, candidates, k, key, bounds)
_CASES = {
    # 3 distinct vectors over 120 rows: exact ties straddle the cutoff in
    # every batch and must break by candidate_id asc
    "ties": lambda: (lambda c: (c[::4], c, 5, None, None))(
        _rows(120, 2, 1, lo=0, hi=1)
    ),
    # > 512 queries in one key cross a query-chunk boundary
    "chunked": lambda: (
        lambda c: (c[:600], c, 3, "grp", None)
    )(_rows(700, 4, 2, grp=lambda i: "a" if i % 7 else "b")),
    # every candidate in one key (the skew case); key "b" has queries only
    "skew_and_queries_without_candidates": lambda: (
        _rows(40, 4, 3) + _rows(10, 4, 4, grp=lambda i: "b", start=1000),
        _rows(120, 4, 3),
        4,
        "grp",
        None,
    ),
    # negative sims under a negative bound; "z" has no bound, keeps no pair
    "bounds": lambda: (
        lambda c: (c[::3], c, 4, "grp", {"x": -0.3, "y": 0.2})
    )(_rows(150, 3, 5, grp=lambda i: "xyz"[i % 3])),
    "empty_queries": lambda: ([], _rows(30, 4, 6), 3, None, None),
}


@pytest.mark.parametrize("case", list(_CASES))
def test_cosine_topk_paths_match_reference(spark, monkeypatch, case):
    qrows, crows, k, key, bounds = _CASES[case]()
    queries = arrow_frame(spark, qrows, VEC_SCHEMA)
    candidates = arrow_frame(spark, crows, VEC_SCHEMA)

    def run():
        df = Q._cosine_topk(queries, candidates, k, key=key, bounds=bounds)
        return df.dtypes, sorted(map(tuple, df.collect()))

    types, numpy_rows = run()
    with monkeypatch.context() as m:
        m.setattr(Q, "KNN_NUMPY_MAX_ROWS", 0)
        assert run() == (types, numpy_rows)
    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(batch_conf)
    spark.conf.set(batch_conf, "7")
    try:
        assert run() == (types, numpy_rows)
    finally:
        spark.conf.set(batch_conf, old)

    assert [c for c, _ in types] == [
        "query_id", "candidate_id", "query_label", "candidate_label",
        *([key] if key else []), "sim", "rnk",
    ]
    want = _reference(qrows, crows, k, key is not None, bounds)
    assert len(numpy_rows) == len(want)
    for got, ref in zip(numpy_rows, want):
        assert got[:-2] == ref[:-2] and got[-1] == ref[-1]
        assert abs(got[-2] - ref[-2]) <= 6e-7
    if case == "empty_queries":
        assert numpy_rows == [] and dict(types)["sim"] == "double"
    else:
        assert numpy_rows
