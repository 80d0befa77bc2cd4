"""χ² feature selection and item-item Jaccard CF vs pure-Python
references (operators/featsel.py, operators/cf.py), plus the
round-robin shard property (operators/ranking.py)."""

from __future__ import annotations

import hashlib
import random

import pyspark.sql.functions as F


def _bucket(tok: str, buckets: int = 64) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % buckets


def _ref_chi2(docs, buckets=64):
    pres = {}
    for i, text, lang in docs:
        for b in {_bucket(t, buckets) for t in text.split()}:
            pres.setdefault(b, []).append(lang == "en")
    n = len(docs)
    np_ = sum(1 for _, _, l in docs if l == "en")
    out = {}
    for b, flags in pres.items():
        a = sum(flags)
        bb = len(flags) - a
        c = np_ - a
        d = n - np_ - bb
        den = (a + bb) * (c + d) * (a + c) * (bb + d)
        det = a * d - bb * c
        out[b] = (a, a + bb, 0 if den == 0 else (10**6 * n * det * det) // den)
    return out


def test_chi2_matches_reference(spark):
    from sea_express_customs_etl_spark.operators.featsel import (
        chi2_feature_scores,
    )

    rnd = random.Random(41)
    docs = []
    for i in range(60):
        lang = "en" if i % 3 else "de"
        # label-correlated vocabulary plus shared noise tokens
        vocab = ["the", "of", "and"] if lang == "en" else ["der", "und", "zu"]
        toks = [rnd.choice(vocab + [f"x{rnd.randrange(20)}"]) for _ in range(12)]
        docs.append((i, " ".join(toks), lang))
    df = spark.createDataFrame(docs, ["doc_id", "text", "lang"])
    got = {
        r.bucket: (r.n_pos, r.n_docs, r.chi2_micro)
        for r in chi2_feature_scores(df, F.col("lang") == "en").collect()
    }
    assert got == _ref_chi2(docs)
    # the label-correlated vocabulary must outrank the shared noise
    top = max(got.values(), key=lambda t: t[2])
    assert top[2] > 0


def _ref_item_item(baskets, min_cooc=2, k=5):
    from collections import defaultdict

    orders = defaultdict(set)
    for o, p in baskets:
        orders[p].add(o)
    items = sorted(orders)
    out = {}
    for a in items:
        scored = []
        for b in items:
            if a == b:
                continue
            c = len(orders[a] & orders[b])
            if c >= min_cooc:
                sim = (10**6 * c) // (len(orders[a]) + len(orders[b]) - c)
                scored.append((-sim, b, sim))
        out[a] = [(b, s) for _, b, s in sorted(scored)[:k]]
    return {a: v for a, v in out.items() if v}


def test_item_item_jaccard_matches_reference(spark):
    from sea_express_customs_etl_spark.operators.cf import (
        basket_items,
        item_item_jaccard,
    )

    rnd = random.Random(47)
    baskets = set()
    for o in range(40):
        for p in rnd.sample(range(12), rnd.randrange(2, 6)):
            baskets.add((o, p))
    li = spark.createDataFrame(
        sorted(baskets), ["l_orderkey", "l_partkey"]
    )
    got = {}
    for r in item_item_jaccard(basket_items(li), min_cooc=2, k=5).orderBy(
        "item_id", F.col("sim_ppm").desc(), "rec_id"
    ).collect():
        got.setdefault(r.item_id, []).append((r.rec_id, r.sim_ppm))
    assert got == _ref_item_item(sorted(baskets))


def test_round_robin_shards_even_and_stratified(spark):
    from sea_express_customs_etl_spark.operators.ranking import (
        global_rank,
        round_robin_shards,
    )

    df = spark.createDataFrame(
        [(i, (i * 37) % 100) for i in range(64)], ["doc_id", "score"]
    )
    ranked = global_rank(
        df, [F.col("score").desc(), F.col("doc_id")], rank_col="rnk"
    )
    out = round_robin_shards(ranked, 8, rank_col="rnk").collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.rnk)
    assert set(by_shard) == set(range(8))
    # even sizes and stratified ranks: shard s holds ranks ≡ s+1 (mod 8)
    for s, rnks in by_shard.items():
        assert len(rnks) == 8
        assert {(r - 1) % 8 for r in rnks} == {s}


def _ref_negatives(edges, catalog, k=2):
    import hashlib

    e = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    cat = sorted(set(catalog))
    n = len(cat)
    out = set()
    for a, b in e:
        for s in range(k):
            h = hashlib.md5(f"{a}|{b}|{s}".encode()).hexdigest()
            neg = cat[int(h[:15], 16) % n]
            if neg in (a, b):
                continue
            if (min(a, neg), max(a, neg)) in e:
                continue
            out.add((a, b, s, neg))
    return out


def test_edge_negative_samples_match_reference(spark):
    from sea_express_customs_etl_spark.operators.sampling import (
        edge_negative_samples,
    )

    rnd = random.Random(53)
    edges = {(rnd.randrange(30), rnd.randrange(30)) for _ in range(50)}
    edges = [(a, b) for a, b in edges if a != b]
    catalog = list(range(40))
    e_df = spark.createDataFrame(edges, ["src", "dst"])
    c_df = spark.createDataFrame([(i,) for i in catalog], ["item"])
    got = {
        (r.src, r.dst, r.slot, r.neg_id)
        for r in edge_negative_samples(e_df, c_df, k=2).collect()
    }
    assert got == _ref_negatives(edges, catalog)
    # determinism: a repartitioned re-run emits the identical set
    again = {
        (r.src, r.dst, r.slot, r.neg_id)
        for r in edge_negative_samples(
            e_df.repartition(7), c_df.repartition(3), k=2
        ).collect()
    }
    assert again == got
    # rejection: no emitted negative is an endpoint or adjacent to src
    e_set = {(min(a, b), max(a, b)) for a, b in edges}
    for a, b, s, neg in got:
        assert neg not in (a, b)
        assert (min(a, neg), max(a, neg)) not in e_set
