"""``embedding_ivf_topk``: the recall flag matches per query.

A corpus vector that sits in the exact top-3 of two queries must give
each of those queries one row per rank, flagged ``in_exact`` from that
query's own exact top-3 (the left join must match on the query as well
as on the neighbour).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

N_QUERIES = 5   # vec_id < 5 are the queries (textops.embedding_ivf_topk)
TOPK = 3


def _vectors() -> dict[int, list[float]]:
    """Queries 0 and 1 point almost the same way, so the corpus vectors
    around them (5-8) sit in both exact top-3 lists; the other queries
    and corpus vectors spread over the remaining axes."""
    vecs = {0: [8.0, 1.0, 0.0, 0.0], 1: [8.0, 2.0, 0.0, 0.0],
            2: [0.0, 0.0, 8.0, 1.0], 3: [0.0, 1.0, 0.0, 8.0],
            4: [1.0, 0.0, 1.0, 8.0]}
    corpus = [[9.0, 1.0, 0.0, 0.0], [9.0, 2.0, 0.0, 0.0],
              [7.0, 1.0, 1.0, 0.0], [7.0, 2.0, 0.0, 1.0],
              [1.0, 7.0, 0.0, 0.0], [0.0, 8.0, 1.0, 0.0],
              [0.0, 1.0, 8.0, 0.0], [1.0, 0.0, 7.0, 2.0],
              [0.0, 0.0, 2.0, 9.0], [2.0, 0.0, 0.0, 7.0],
              [3.0, 3.0, 3.0, 3.0], [5.0, 0.0, 5.0, 0.0],
              [0.0, 5.0, 0.0, 5.0], [4.0, 4.0, 0.0, 1.0]]
    vecs.update({N_QUERIES + i: v for i, v in enumerate(corpus)})
    return vecs


def _cos_micros(a: list[float], b: list[float]) -> int:
    """textops._cos_cols in Python: sequential sums, Math.sqrt."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return int(math.floor(1e6 * dot / (math.sqrt(na) * math.sqrt(nb))
                          + 0.5))


def _exact_topk(vecs) -> dict[int, set[int]]:
    out = {}
    for q in range(N_QUERIES):
        ranked = sorted((-_cos_micros(vecs[q], v), vid)
                        for vid, v in vecs.items() if vid >= N_QUERIES)
        out[q] = {vid for _, vid in ranked[:TOPK]}
    return out


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    vecs = _vectors()
    d = tmp_path_factory.mktemp("ivf")
    pd.DataFrame({"vec_id": list(vecs),
                  "embedding": [[float(x) for x in v]
                                for v in vecs.values()]}
                 ).to_parquet(d / "embeddings.parquet")
    return str(d)


def test_in_exact_is_per_query(spark, sf_dir):
    from pdf2gtfs_spark.operators.textops import embedding_ivf_topk

    exact = _exact_topk(_vectors())
    shared = exact[0] & exact[1]
    assert shared, "the data must put a vector in two exact top-3 lists"
    rows = [r.asDict() for r in
            embedding_ivf_topk(spark, sf_dir).collect()]
    keys = [(r["query_id"], r["rk"]) for r in rows]
    assert len(keys) == len(set(keys))
    for r in rows:
        assert r["in_exact"] == int(r["neighbor_id"]
                                    in exact[r["query_id"]]), r
    hits = {(r["query_id"], r["neighbor_id"]) for r in rows
            if r["in_exact"]}
    assert any((0, v) in hits and (1, v) in hits for v in shared)
