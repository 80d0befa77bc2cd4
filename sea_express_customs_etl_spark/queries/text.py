"""Text statistics, language models, collocations and subword tokenizers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.bpe import (
    FIXED_MERGES,
    bpe_encode,
    bpe_fertility,
)
from sea_express_customs_etl_spark.operators.collocations import (
    domain_divergence,
    pmi_collocations,
    skipgram_pairs,
    source_vocab_overlap,
)
from sea_express_customs_etl_spark.operators.dispersion import (
    heaps_law_fit,
    token_burstiness,
    token_entropy,
    zipf_alpha,
)
from sea_express_customs_etl_spark.operators.lm import (
    kneser_ney_bigram_top,
    lm_score,
    trigram_backoff_score,
)
from sea_express_customs_etl_spark.operators.privacy import k_anonymity_audit
from sea_express_customs_etl_spark.operators.rake import rake_top_phrases
from sea_express_customs_etl_spark.operators.seqmatch import sequence_pattern_counts
from sea_express_customs_etl_spark.operators.sketches import (
    cms_cells,
    cms_heavy_hitters,
    hll_pair_overlap,
    hll_registers,
    hll_registers_by,
)
from sea_express_customs_etl_spark.operators.textrank import (
    textrank_keywords,
    word_cooccurrence_edges,
)
from sea_express_customs_etl_spark.operators.textstats import (
    fingerprint,
    inverted_index,
    kwic_snippets,
    lang_id,
    lang_id_ngram,
    phrase_match_topk,
    quality_gate,
    readability_scores,
    repetition_stats,
    text_stats,
    tfidf_top_terms,
    token_counts,
    top_terms_per_doc,
    vocab_top_tokens,
)
from sea_express_customs_etl_spark.operators.unigram import unigram_token_counts
from sea_express_customs_etl_spark.plans import (
    oracles_ext as ext,
    oracles_r10 as r10,
    oracles_r9 as r9,
    oracles_rel_ext as rex,
    oracles_unigram as uni,
    oracles_waf as waf,
    oracles_wag as wag,
    oracles_wx as wx,
)
from sea_express_customs_etl_spark.plans.oracles_ext import bpe_encode_sql
from sea_express_customs_etl_spark.plans.standins import load_table
from sea_express_customs_etl_spark.queries import query
from sea_express_customs_etl_spark.queries.shared import (
    _bpe_merges_cached,
    _docs,
    _sketch_tokens,
    _tok_dict,
    _wordpiece_merges_cached,
)


@query(oracle=uni.UNIGRAM_LM_VOCAB_SQL)
def _q_unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) vocabulary TRAINING in-engine,
    trajectory-hash-checked (the bpe_learned_merges discipline, r6
    VERDICT stretch #8): substring seed counts → 2 × (dictionary-grain
    Viterbi re-segmentation under the integer surrogate objective →
    usage re-score → prune unused multi-char pieces, characters always
    kept). The oracle unrolls the ENTIRE trajectory — per-position DP
    CTEs chained per round — so a drift anywhere in seed counts,
    tie-breaks, or pruning breaks the hash. No driver collect: the
    vocabulary stays a distributed model-sized frame."""
    return _tok_dict(spark, sf_dir, "unigram_vocab")


@query(oracle=uni.UNIGRAM_TOKEN_COUNTS_SQL)
def _q_unigram_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train → apply composed: per-document token counts under the
    trained unigram vocabulary (the bpe_encode_fixed pairing for the
    unigram family, except the model is LEARNED inside the checked
    plan, not pinned). Viterbi runs once per distinct word; the oracle
    re-derives the trained vocab AND the apply-pass segmentation, so
    both stages stay hash-pinned end to end."""
    docs = _docs(spark, sf_dir)
    return unigram_token_counts(docs, _tok_dict(spark, sf_dir, "unigram"))


@query(oracle=ext.bpe_train_sql(10))
def _q_bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer TRAINING in-engine, hash-checked: 10 BPE merge rounds
    learned from the corpus (pair counts over the word-frequency
    dictionary — the Heaps-bounded model table — 1-row argmax collect
    per round, map-side merge application). The ENTIRE argmax
    trajectory matches the oracle, which threads each round's winner
    into the next round's replace via CTE cross joins — no replayed
    literals. Training runs ONCE per session (the perceptron-memo
    license); bpe_token_counts applies the same learned merges."""
    merges = _bpe_merges_cached(spark, sf_dir)
    return spark.createDataFrame(
        [(i + 1, l, r) for i, (l, r) in enumerate(merges)],
        "step int, left string, right string",
    )


@query(oracle=ext.CMS_HEAVY_HITTERS_SQL)
def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters from the CMS state: distinct-vocab
    probe, ≥5000 ppm admit, top-20 — the frequency-gate building block
    (stopword discovery, boilerplate detection) in mergeable-sketch
    form; exact integer estimates make even the collision overshoot
    hash-match."""
    return cms_heavy_hitters(_sketch_tokens(spark, sf_dir), "tok")


@query(oracle=ext.TRIGRAM_BACKOFF_SQL)
def _q_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram scoring on a held-out split: model
    counted on even doc_ids, odd half scored — backoff genuinely
    fires (about 2/3 of held-out trigrams are unseen at this corpus
    size, all counted in backoff_hits). α = e⁻¹ makes every backoff
    penalty an exact integer micro-unit shift."""
    docs = _docs(spark, sf_dir)
    return trigram_backoff_score(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


@query(oracle=r9.TOKEN_ENTROPY_SQL)
def _q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram Shannon entropy in micro-nats — the
    information-theoretic boilerplate dial complementing the Gopher
    repetition ratios. One libm call per distinct (doc, token) count,
    rounded to u6 BEFORE the doc-grain sum (aggregation-order-exact);
    the numerator of the closing DIV is non-negative by monotonicity
    of round∘ln."""
    return token_entropy(_docs(spark, sf_dir))


@query(oracle=r9.TOKEN_BURSTINESS_SQL)
def _q_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church–Gale burstiness (variance-to-mean ratio of per-doc token
    counts, zeros included) — the stopword-vs-topical split with NO
    libm at all: one integer rational per token, products lifted to
    DECIMAL(38,0) (N·Σc² overflows int64 at corpus scale). The corpus
    size N is the one broadcast 1-row scalar (chi2 license)."""
    return token_burstiness(_docs(spark, sf_dir))


@query(oracle=r9.ZIPF_ALPHA_SQL)
def _q_zipf_alpha_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf exponent: integer-moment OLS of ln(freq) on
    ln(rank) over the top-500 vocabulary ranks (31 at this corpus's
    vocab) — the one-row corpus-naturalness dial. Top-k selection is
    orderBy+limit (distributed TakeOrderedAndProject); the rank window
    runs on the already-limited model-sized frame; slope emitted
    negate-first (it is negative) with DECIMAL(38,0) moments."""
    return zipf_alpha(_docs(spark, sf_dir), top_r=500)


@query(oracle=r10.HEAPS_LAW_SQL)
def _q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps/Herdan vocabulary-growth exponent V(N) ~ K*N^beta over the
    deterministic (md5, id) corpus stream — the corpus-SCALING dial
    next to zipf_alpha_fit's frequency dial. One exact (ln cum_tokens,
    ln cum_vocab) point per doc boundary (first-appearance argmin per
    token, two-phase global cumsum — never a single-partition corpus
    window), OLS slope in DECIMAL(38,0) moments."""
    return heaps_law_fit(_docs(spark, sf_dir))


@query(oracle=r10.K_ANONYMITY_SQL)
def _q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity + l-diversity release audit over the (nation,
    $1k-balance-band) quasi-identifier with mktsegment sensitive —
    the privacy-governance gate a curated corpus passes before
    release (Sweeney 2002; Machanavajjhala et al. 2007). Two
    class-grain partial-agg shuffles, all-integer output."""
    return k_anonymity_audit(load_table(spark, sf_dir, "customer"))


@query(oracle=r10.bpe_fertility_sql(10))
def _q_bpe_fertility_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility per domain under the session's LEARNED BPE
    merges (pieces-per-word + multi-piece share) — the deployment
    metric that prices each domain's compute cost under the learned
    vocabulary. Rides the shared merge memo; dictionary-grain encode,
    one source-grain rollup."""
    return bpe_fertility(
        _docs(spark, sf_dir), _tok_dict(spark, sf_dir, "bpe_learned")
    )


@query(oracle=r10.wordpiece_fertility_sql(8, 20))
def _q_wordpiece_fertility_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source WordPiece fertility under the session's learned
    merges — the bpe_fertility_by_source pairing for the greedy
    longest-match family; same dictionary-grain encode, same rollup,
    DIFFERENT segmentation rule under the hash."""
    words = _docs(spark, sf_dir).select(
        "source",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("word"),
    )
    # the session word→n_pieces table (same merges, same greedy rounds)
    enc = _tok_dict(spark, sf_dir, "wordpiece")
    return (
        words.join(
            F.broadcast(enc.select("word", F.col("n_pieces").alias("_np"))),
            "word",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("_np").cast("bigint").alias("n_pieces"),
            F.sum((F.col("_np") > 1).cast("bigint")).alias("_multi"),
        )
        .select(
            "source",
            "n_words",
            "n_pieces",
            F.expr(
                "CAST((1000000 * n_pieces) DIV n_words AS BIGINT)"
            ).alias("fert_u6"),
            F.expr(
                "CAST((1000000 * _multi) DIV n_words AS BIGINT)"
            ).alias("multi_ppm"),
        )
    )


@query(oracle=ext.SKIPGRAM_PAIRS_SQL)
def _q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec/SGNS positive-pair extraction: ordered (tᵢ, tᵢ₊ₒ)
    pairs for offsets 1-2, map-only generation (staged array, guarded
    sequence), one partial-agg count, min_count=5, global top-50."""
    return skipgram_pairs(_docs(spark, sf_dir), window=2, min_count=5, k=50)


@query(oracle=uni.TOKENIZER_FERTILITY_SQL)
def _q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by corpus slice (r8): pieces-per-word under
    the LEARNED unigram vocabulary, aggregated per (lang, source) in
    integer ppm — the compression-ratio table a tokenizer report leads
    with (fertility >> 1 on a slice means the vocab underserves it:
    the budget/vocab-allocation signal for multilingual training).
    Composes the trained tokenizer end-to-end: the oracle re-derives
    the vocabulary AND the apply segmentation, then the slice rollup —
    train, apply, and report all under one hash."""
    docs = _docs(spark, sf_dir)
    tc = unigram_token_counts(docs, _tok_dict(spark, sf_dir, "unigram"))
    return (
        tc.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "n_words",
            "n_tokens",
            F.expr("1000000 * n_tokens DIV n_words")
            .cast("bigint")
            .alias("fertility_ppm"),
        )
    )


@query(oracle=ext.KNESER_NEY_SQL)
def _q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (D=3/4, KenLM's
    default smoothing family) for the corpus top-50 bigrams, exact
    integer rationals over type/continuation counts — the
    discount-based sibling of lm_score's add-one model
    (operators/lm.py:kneser_ney_bigram_top)."""
    return kneser_ney_bigram_top(_docs(spark, sf_dir))


@query(oracle=ext.wordpiece_train_sql(8))
def _q_wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece merge training in-engine (the BERT-tokenizer rule):
    8 rounds maximizing the quantized likelihood-ratio score
    (10¹²·n(l,r)) DIV (c(l)·c(r)) instead of BPE's raw count — the
    corpus's collocation structure, not its letter frequencies, picks
    the merges (first winner here is 'q'+'u'). The whole argmax
    trajectory hash-matches the oracle's unrolled CTE chain
    (operators/bpe.py:wordpiece_train; the bpe_learned_merges
    discipline, third tokenizer family next to BPE and unigram-LM).
    Training runs ONCE per session (the perceptron-memo license) —
    wordpiece_token_counts applies the same learned merges."""
    merges = _wordpiece_merges_cached(spark, sf_dir)
    return spark.createDataFrame(
        [(i + 1, l, r) for i, (l, r) in enumerate(merges)],
        "step int, left string, right string",
    )


@query(oracle=r9.wordpiece_token_counts_sql(8, 20))
def _q_wordpiece_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece APPLY (train → encode composed, the
    unigram_token_counts pairing for the WordPiece family): per-doc
    piece counts under the session's learned merges via greedy
    longest-match-first segmentation — the BERT inference rule,
    deliberately DIFFERENT from BPE's merge-order replay (a learned
    unit matches wherever it occurs, not in creation order). The
    greedy loop is 20 chained map-only projections at DISTINCT-WORD
    grain (operators/bpe.py:wordpiece_encode_pieces); the oracle
    re-derives the merge trajectory through the shared stage CTEs and
    unrolls the same 20 greedy rounds — training AND inference under
    one hash."""
    docs = _docs(spark, sf_dir)
    wpd = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("word"),
    )
    # the session word→n_pieces table (same merges, same 20 greedy
    # rounds, full-corpus vocabulary — row-identical after the join)
    pieces = _tok_dict(spark, sf_dir, "wordpiece")
    return (
        wpd.join(pieces, "word")
        .groupBy("doc_id")
        .agg(F.sum("n_pieces").cast("bigint").alias("n_tokens"))
    )


@query(oracle=r9.bpe_token_counts_sql(10))
def _q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLY under the session's LEARNED merges (train → encode
    composed — bpe_encode_fixed covers the fixed-model apply; this
    closes train+apply for the BPE family too, joining unigram and
    WordPiece): per-doc token counts from the dictionary-encoded
    greedy merge replay. The oracle re-derives the full merge
    trajectory through the shared stage CTEs (all MATERIALIZED — the
    winners are referenced by both the train and encode chains) and
    applies each winner in merge order to a word-keyed replace
    chain."""
    merges = _bpe_merges_cached(spark, sf_dir)
    return bpe_encode(
        _docs(spark, sf_dir),
        merges,
        enc=_tok_dict(spark, sf_dir, "bpe_learned"),
        counts_only=True,
    ).select("doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"))


@query(oracle=ext.TEXT_STATS_SQL)
def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(_docs(spark, sf_dir))


@query(oracle=ext.TOKEN_COUNTS_SQL)
def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(_docs(spark, sf_dir))


@query(oracle=ext.TFIDF_TOP_TERMS_SQL)
def _q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(_docs(spark, sf_dir))


@query(oracle=ext.LM_SCORE_SQL)
def _q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus bigram-LM quality scoring: every document's
    summed log-probability under a model counted from the corpus
    itself, in exact micro-unit integers (partitioning-independent)."""
    return lm_score(_docs(spark, sf_dir))


@query(oracle=ext.HLL_TOKENS_SQL)
def _q_hll_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog over the corpus token stream: the
    256-register state (md5-derived buckets/ranks, integer-exact) is
    the checked artifact; estimate accuracy (~1/√m) is
    property-tested separately."""
    return hll_registers(_sketch_tokens(spark, sf_dir), "tok")


@query(oracle=wx.TEXTRANK_KEYWORDS_SQL)
def _q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank corpus keywords: weighted PageRank over the adjacent-
    token co-occurrence graph, exact integer trajectory, top-20."""
    return textrank_keywords(load_table(spark, sf_dir, "documents"))


@query(oracle=bpe_encode_sql(FIXED_MERGES))
def _q_bpe_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE tokenization with the pinned merge list
    (operators/bpe.FIXED_MERGES — trained by bpe_train, frozen like a
    production tokenizer artifact). Map-only: the merge list compiles
    to a chain of greedy array folds, no joins or shuffles."""
    return bpe_encode(
        _docs(spark, sf_dir),
        list(FIXED_MERGES),
        enc=_tok_dict(spark, sf_dir, "bpe_fixed"),
    ).select(
        "doc_id",
        F.array_join("tokens", " ").alias("tokens_str"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )


@query(oracle=ext.LANG_ID_TWO_WAYS_SQL)
def _q_lang_id_two_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both language-ID strategies side by side per document: the
    marker-word heuristic and the Cavnar-Trenkle char-trigram scorer
    (one map-only join of two shuffle-free projections)."""
    docs = _docs(spark, sf_dir)
    markers = lang_id(docs).withColumnRenamed("predicted_lang", "marker_lang")
    return markers.join(lang_id_ngram(docs), "doc_id")


@query(oracle=ext.VOCAB_TOP_TOKENS_SQL)
def _q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_top_tokens(_docs(spark, sf_dir), k=100)


@query(oracle=ext.REPETITION_STATS_SQL)
def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(_docs(spark, sf_dir))


@query(oracle=ext.QUALITY_GATE_SQL)
def _q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_gate(_docs(spark, sf_dir))


@query(oracle=ext.HLL_TOKENS_BY_SOURCE_SQL)
def _q_hll_tokens_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP HyperLogLog: one 256-register distinct-token state
    per source — the partitioned sketch a 100 TB corpus keeps instead
    of per-domain exact distinct scans; states merge by max."""
    toks = _docs(spark, sf_dir).select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    )
    return hll_registers_by(toks, "tok", "source")


@query(oracle=ext.CMS_TOKEN_FREQS_SQL)
def _q_cms_token_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch of token frequencies: d=4 × w=256 cell table,
    exact bigint sums — the mergeable frequency state a 100 TB corpus
    keeps instead of a vocabulary-sized exact count table."""
    return cms_cells(_sketch_tokens(spark, sf_dir), "tok")


@query(oracle=ext.FINGERPRINT_SQL)
def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_docs(spark, sf_dir))


@query(oracle=ext.INVERTED_INDEX_SQL)
def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list build with delta-encoded doc-id gaps — the IR-side
    consumer of the same explode→count shape as tfidf, checked down to
    the exact gap arrays."""
    return inverted_index(_docs(spark, sf_dir))


@query(oracle=ext.PMI_COLLOCATIONS_SQL)
def _q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 adjacent-word collocations by PMI (micro-unit integer
    scores, min_count=5, TakeOrdered top-k — never a global sort)."""
    return pmi_collocations(_docs(spark, sf_dir), k=40, min_count=5)


@query(oracle=ext.DOMAIN_KL_SQL)
def _q_domain_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence of token distribution vs the corpus
    (Laplace-smoothed, sparse-restricted, nano-unit integer sums) —
    the domain-shift signal feeding mixing decisions."""
    return domain_divergence(_docs(spark, sf_dir), domain_col="source")


@query(oracle=ext.DOC_TOP_TERMS_SQL)
def _q_doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by tf·idf
    (integer-rational IDF) — the metadata-enrichment tag pass;
    WindowGroupLimit top-k per doc."""
    return top_terms_per_doc(_docs(spark, sf_dir), k=3)


@query(oracle=ext.SOURCE_VOCAB_OVERLAP_SQL)
def _q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-design diagnostic: pairwise vocabulary Jaccard between
    corpus sources — set-level slice similarity complementing the
    distributional domain_kl_divergence; dictionary-grain self-join."""
    return source_vocab_overlap(_docs(spark, sf_dir))


@query(oracle=ext.HLL_SOURCE_OVERLAP_SQL)
def _q_hll_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-space slice overlap: pairwise HLL inclusion-exclusion
    sufficient statistics (register-wise max = union merge) over
    per-source token sketches — the mergeability property as a query."""
    toks = _docs(spark, sf_dir).select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "tok"
        ),
    )
    return hll_pair_overlap(toks, "tok", "source")


@query(oracle=ext.PHRASE_SEARCH_TOPK_SQL)
def _q_phrase_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval: docs where 'hash join' occurs as
    adjacent tokens, by positional-posting intersection; global top-20
    via TakeOrderedAndProject."""
    return phrase_match_topk(_docs(spark, sf_dir), ["hash", "join"], k=20)


@query(oracle=ext.KWIC_SNIPPETS_SQL)
def _q_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance for 'vector': ±2-token snippets
    from a staged array, first 50 in (doc, pos) order."""
    return kwic_snippets(_docs(spark, sf_dir), "vector", context=2, k=50)


@query(oracle=rex.RAKE_TOP_PHRASES_SQL)
def _q_rake_top_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keywords: stopword-cut phrases, deg/freq word scores."""
    return rake_top_phrases(load_table(spark, sf_dir, "documents"))


@query(oracle=wx.DOC_READABILITY_SQL)
def _q_doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document, integer milli-units (vowel-
    group syllable proxy) — map-side only, no shuffle."""
    return readability_scores(load_table(spark, sf_dir, "documents"))


@query(oracle=waf.SEQUENCE_PATTERN_COUNTS_SQL)
def _q_sequence_pattern_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: users whose ordered event-history string
    matches each journey regex."""
    return sequence_pattern_counts(
        load_table(spark, sf_dir, "events"),
        ["v.*c.*p", "e.*p.*e", "s.*v.*c.*p"],
    )


@query(oracle=wag.TOKEN_NEIGHBORS_TOPK_SQL)
def _q_token_neighbors_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related-terms lookup: top-3 adjacency neighbors per token over
    the TextRank edge list — WindowGroupLimit per source."""
    ew = word_cooccurrence_edges(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    return (
        ew.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("src", "dst", "w", F.col("rank").cast("bigint").alias("rank"))
    )
