"""Property tests for integer BM25 retrieval and bipartite HITS —
pinned against pure-Python references on hand fixtures."""

from __future__ import annotations

from sea_express_customs_etl_spark.operators.bm25 import bm25_topk, tokenize_docs
from sea_express_customs_etl_spark.operators.graph import hits_bipartite


def _py_bm25(docs, queries, k):
    """Pure-Python replica of the integer BM25 recipe."""
    toks = {d: t.lower().split() for d, t in docs}
    n_docs = len(docs)
    tot = sum(len(v) for v in toks.values())
    avgdl = tot // n_docs
    out = {}
    for qid, terms in queries:
        scores = {}
        for term in terms:
            df = sum(1 for v in toks.values() if term in v)
            if df == 0:
                continue
            idf_k = (n_docs * 1000) // df
            for d, v in toks.items():
                tf = v.count(term)
                if tf == 0:
                    continue
                dl = len(v)
                num = 22000 * idf_k * avgdl * tf
                den = 10 * avgdl * tf + 3 * avgdl + 9 * dl
                scores[d] = scores.get(d, 0) + num // den
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[qid] = top
    return out


def test_bm25_matches_python_reference(spark):
    docs = [
        (1, "hash join hash join hash"),
        (2, "join scan filter scan"),
        (3, "window agg window stream stream stream"),
        (4, "hash"),
        (5, "scan filter vector vector window"),
        (6, "the quick brown fox jumps over the lazy dog entirely"),
    ]
    queries = (
        ("qa", ("hash", "join")),
        ("qb", ("stream", "window", "vector")),
    )
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {}
    for r in bm25_topk(tokenize_docs(df), queries=queries, k=3).collect():
        got.setdefault(r.query_id, []).append((r.doc_id, r.score_u6))
    want = _py_bm25(docs, queries, 3)
    for qid in want:
        got[qid].sort(key=lambda kv: (-kv[1], kv[0]))
        assert got[qid] == want[qid], qid


def test_bm25_tf_saturation_vs_short_doc_bonus(spark):
    # same tf, shorter doc scores higher (the b·dl/avgdl length prior)
    docs = [
        (1, "hash hash"),
        (2, "hash hash padding padding padding padding padding padding"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {
        r.doc_id: r.score_u6
        for r in bm25_topk(tokenize_docs(df), queries=(("q", ("hash",)),), k=5).collect()
    }
    assert rows[1] > rows[2]


def _py_hits(edges, iters):
    hubs = sorted({h for h, _ in edges})
    auths = sorted({a for _, a in edges})
    h = {c: 10**6 for c in hubs}
    a = {}
    for _ in range(iters):
        raw = {p: sum(h[c] for c, p2 in edges if p2 == p) for p in auths}
        mx = max(raw.values())
        a = {p: (10**6 * raw[p]) // mx for p in auths}
        rawh = {c: sum(a[p] for c2, p in edges if c2 == c) for c in hubs}
        mxh = max(rawh.values())
        h = {c: (10**6 * rawh[c]) // mxh for c in hubs}
    return h, a


def test_hits_matches_python_reference(spark):
    # two communities sharing one bridge part: 4 hubs, 5 auths
    edges = [
        (1, "p1"), (1, "p2"), (2, "p1"), (2, "p2"), (2, "p3"),
        (3, "p3"), (3, "p4"), (4, "p4"), (4, "p5"), (1, "p3"),
    ]
    df = spark.createDataFrame(edges, ["hub", "auth"])
    hubs, auths = hits_bipartite(df, iters=2)
    got_h = {r.node: r.hub_u6 for r in hubs.collect()}
    got_a = {r.node: r.auth_u6 for r in auths.collect()}
    want_h, want_a = _py_hits(edges, 2)
    assert got_h == want_h
    assert got_a == want_a
    # L∞ invariant: the max on each side is exactly 1e6
    assert max(got_h.values()) == 10**6
    assert max(got_a.values()) == 10**6


def test_hits_layout_invariance(spark):
    edges = [(i % 9, (i * i) % 13) for i in range(120)]
    df = spark.createDataFrame(edges, ["hub", "auth"])
    _, a1 = hits_bipartite(df, iters=2)
    _, a2 = hits_bipartite(df.repartition(7, "auth"), iters=2)
    assert sorted(map(tuple, a1.collect())) == sorted(
        map(tuple, a2.collect())
    )


def test_rrf_fuse_golden(spark):
    from sea_express_customs_etl_spark.operators.fusion import rrf_fuse

    r1 = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2), ("q", 3, 3)],
        ["query_id", "doc_id", "rank"],
    )
    r2 = spark.createDataFrame(
        [("q", 3, 1), ("q", 1, 2), ("q", 4, 3)],
        ["query_id", "doc_id", "rank"],
    )
    got = {
        r.doc_id: r.rrf_u6
        for r in rrf_fuse([r1, r2], k=10, c=60).collect()
    }
    u = 1_000_000
    assert got[1] == u // 61 + u // 62   # in both rankings
    assert got[3] == u // 63 + u // 61
    assert got[2] == u // 62             # missing from r2: no penalty
    assert got[4] == u // 63
    # consensus doc beats single-ranker docs
    assert got[1] > got[2] and got[3] > got[4]


def test_term_coverage_ranker_prefers_more_terms(spark):
    from sea_express_customs_etl_spark.operators.bm25 import (
        term_coverage_ranked,
    )

    docs = [
        (1, "hash hash hash hash"),        # 1 distinct query term
        (2, "hash join"),                  # both terms
        (3, "nothing relevant here"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.query_id, r.doc_id): r.rank
        for r in term_coverage_ranked(
            tokenize_docs(df), queries=(("q", ("hash", "join")),), k=5
        ).collect()
    }
    assert got[("q", 2)] == 1  # coverage 2 beats tf 4
    assert got[("q", 1)] == 2
    assert ("q", 3) not in got
