"""PageRank (wikicrawler_spark.graph) vs an independent python power
iteration, plus dangling-mass behavior."""

from __future__ import annotations

from wikicrawler_spark.graph import pagerank


def _python_pagerank(edges, iterations=6, d=0.85):
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        dm = sum(r for v, r in rank.items() if v not in outdeg)
        contrib = {}
        for s, t in edges:
            contrib[t] = contrib.get(t, 0.0) + rank[s] / outdeg[s]
        rank = {
            v: (1.0 - d) / n + d * (contrib.get(v, 0.0) + dm / n)
            for v in nodes
        }
    return {v: round(r, 6) for v, r in rank.items()}


EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
    ("d", "c"),            # d has no in-edges
    ("c", "e"),            # e is dangling (no out-edges)
]


def test_pagerank_vs_python(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=6).collect()}
    want = _python_pagerank(EDGES, iterations=6)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) <= 1e-6, v
    # probability mass is conserved (teleport + dangling redistribution)
    assert abs(sum(got.values()) - 1.0) < 1e-5


def test_pagerank_all_dangling_is_uniform(spark):
    # star into a sink: after enough iterations ranks stay normalized and
    # the sink dominates
    edges = [("a", "z"), ("b", "z"), ("c", "z")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=8).collect()}
    assert got["z"] == max(got.values())
    assert abs(sum(got.values()) - 1.0) < 1e-5
