"""Near-duplicate detection, record linkage and corpus hygiene."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.multimodal.binary_ops import (
    audio_fingerprint,
    image_ahash,
    synth_pgm_near_dups,
    synth_wav_near_dups,
)
from sea_express_customs_etl_spark.operators.bandjoin import band_pair_counts
from sea_express_customs_etl_spark.operators.cdc_chunking import cdc_shared_chunks
from sea_express_customs_etl_spark.operators.dedup import (
    containment_verify_profiles,
    dedup_clusters,
    exact_duplicates,
    hamming_pairs,
    ivf_near_dups,
    jaccard_threshold_sweep,
    jaccard_verify_profiles,
    keep_by_quality,
    lsh_bands,
    lsh_candidate_pairs,
    shingle_profiles,
    shingles,
    simhash,
    simhash_hamming_pairs,
)
from sea_express_customs_etl_spark.operators.fellegi_sunter import fs_em_train
from sea_express_customs_etl_spark.operators.fhash import (
    hashed_doc_clusters,
    hashed_doc_topk,
)
from sea_express_customs_etl_spark.operators.fingerprint import winnow_dup_pairs
from sea_express_customs_etl_spark.operators.fuzzy import (
    fuzzy_best_link,
    fuzzy_join,
    snm_pairs,
)
from sea_express_customs_etl_spark.operators.hygiene import (
    decontaminate,
    dedup_lines,
    dup_substring_stats,
    redact_pii,
)
from sea_express_customs_etl_spark.operators.ppjoin import prefix_jaccard_join
from sea_express_customs_etl_spark.operators.setjoin import deletion_neighbor_pairs
from sea_express_customs_etl_spark.operators.textstats import tfidf_cosine_pairs
from sea_express_customs_etl_spark.plans import (
    oracles_ext as ext,
    oracles_r9b as r9b,
    oracles_wad as wad,
)
from sea_express_customs_etl_spark.plans.cache import (
    tracked_persist as _tracked_persist,
)
from sea_express_customs_etl_spark.plans.standins import load_table
from sea_express_customs_etl_spark.queries import query
from sea_express_customs_etl_spark.queries.shared import (
    _docs,
    _emb,
    _shared_edges,
    _shared_profiles,
    _shared_text_pairs,
)


@query(oracle=ext.MULTISIGNAL_DEDUP_V2_SQL)
def _q_multisignal_dedup_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal dedup v2 (r7 VERDICT #7): ALL FOUR signal
    families — text shingle-LSH, embedding cosine, perceptual image
    aHash, perceptual audio fingerprint — over one mixed-modal corpus
    (every doc carries text + embedding + a deterministic image and
    audio track; the planted media copies arrive as EXTRA entities
    under id+100000, media-only — the photo re-uploaded under a new
    content id), resolved in ONE component pass. Output is per
    cluster: member count + per-signal edge contributions, so the
    result shows WHICH signal family earned each merge — the full
    production curation composition, end-to-end hash-checked (the
    image/audio edges via their analytic closed forms)."""
    docs = _docs(spark, sf_dir)
    # text near-dup edges from the session's shared LSH-verified table
    text = (
        _shared_text_pairs(spark, sf_dir)
        .select("id_a", "id_b")
        .withColumn("signal", F.lit("text"))
    )
    emb = _emb(spark, sf_dir)
    sem = (
        ivf_near_dups(emb, emb.filter(F.col("vec_id") < 16), threshold=0.4)
        .select("id_a", "id_b")
        .withColumn("signal", F.lit("embedding"))
    )
    ids = docs.select(F.col("doc_id").alias("media_id"))
    ahash = image_ahash(synth_pgm_near_dups(ids)).select(
        "media_id",
        F.shiftleft("ahash_hi", 32).bitwiseOR(F.col("ahash_lo")).alias("ahash"),
    )
    img = (
        hamming_pairs(ahash, "ahash", 64, 4, 3, "media_id")
        .select("id_a", "id_b")
        .withColumn("signal", F.lit("image"))
    )
    afp = audio_fingerprint(synth_wav_near_dups(ids))
    aud = (
        hamming_pairs(afp, "fp", 32, 4, 3, "media_id")
        .select("id_a", "id_b")
        .withColumn("signal", F.lit("audio"))
    )
    # pinned: feeds the component resolution AND the per-signal counts
    edges = _tracked_persist(
        text.unionByName(sem).unionByName(img).unionByName(aud)
    )
    entities = docs.select("doc_id").unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100_000).alias("doc_id")
        )
    )
    comp = _tracked_persist(
        dedup_clusters(entities, edges.select("id_a", "id_b")).select(
            "doc_id", "cluster_id"
        )
    )
    members = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    sig = (
        edges.join(comp.withColumnRenamed("doc_id", "id_a"), "id_a")
        .groupBy("cluster_id")
        .agg(
            *[
                F.sum(F.when(F.col("signal") == s, 1).otherwise(0))
                .cast("bigint")
                .alias(f"n_{s}")
                for s in ("text", "embedding", "image", "audio")
            ]
        )
    )
    return members.join(sig, "cluster_id", "left").select(
        "cluster_id",
        "n_members",
        *[
            F.coalesce(F.col(f"n_{s}"), F.lit(0)).cast("bigint").alias(f"n_{s}")
            for s in ("text", "embedding", "image", "audio")
        ],
    )


@query(oracle=ext.LSH_RECALL_CURVE_SQL)
def _q_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH quality harness (the dedup sibling of
    ann_recall_matrix): exact Jaccard over every co-shingle pair,
    bucketed by the INTEGER decile floor(10·j), against the banded
    candidate set — the classic S-curve as hash-checked counts, so a
    shingling/banding regression breaks the gate, not a property
    test."""
    docs = _docs(spark, sf_dir)
    # varying-overlap copies (30..90% prefixes) so the curve spans
    # mid-range deciles; integer `DIV 100` prefix length (CAST of a
    # double truncates in Spark but rounds in DuckDB)
    aug = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.expr(
                "substring(text, 1, CAST((length(text) * "
                "(30 + 15 * ((doc_id DIV 20) % 5))) DIV 100 AS INT))"
            ).alias("text"),
        )
    )
    prof = _tracked_persist(shingle_profiles(aug))
    sh = prof.select("doc_id", F.explode("_sh_set").alias("shingle"))
    left = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    right = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    co = (
        left.join(right, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_n_inter"))
    )
    sizes = prof.select("doc_id", "n_sh")
    truth = (
        co.join(sizes.select(F.col("doc_id").alias("id_a"),
                             F.col("n_sh").alias("_na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"),
                           F.col("n_sh").alias("_nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr("CAST((10 * _n_inter) DIV (_na + _nb - _n_inter) AS INT)")
            .alias("j_bucket"),
        )
    )
    cands = lsh_candidate_pairs(lsh_bands(prof)).withColumn("_f", F.lit(1))
    return (
        truth.join(cands, ["id_a", "id_b"], "left")
        .groupBy("j_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("_f").alias("n_found"),
        )
    )


@query(oracle=ext.MULTISIGNAL_DEDUP_SQL)
def _q_multisignal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal dedup: TEXT near-dup edges (shingle-LSH + exact
    Jaccard) unioned with SEMANTIC edges (IVF-blocked embedding
    cosine; vec_id ≡ doc_id in the synthetic corpus) resolved in ONE
    component pass — a duplicate seen by either signal lands in the
    cluster, the composition a production curation stack actually
    runs (surface dedup misses paraphrases, embedding dedup misses
    short verbatim snippets)."""
    docs = _docs(spark, sf_dir)
    # text near-dup edges from the session's shared LSH-verified table
    text_pairs = _shared_text_pairs(spark, sf_dir).select("id_a", "id_b")
    emb = _emb(spark, sf_dir)
    sem_pairs = ivf_near_dups(
        emb, emb.filter(F.col("vec_id") < 16), threshold=0.4
    ).select("id_a", "id_b")
    return dedup_clusters(docs, text_pairs.unionByName(sem_pairs))


@query(oracle=ext.WINNOW_DUPS_SQL)
def _q_winnow_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint near-dup pairs: md5 3-gram rolling
    hashes thinned by a w=4 window-minimum, df-capped at 50 docs, pairs
    sharing ≥ 2 fingerprints. Guarantees any shared 6-token run is
    caught — the substring-level dedup the whole-document MinHash
    family misses."""
    return winnow_dup_pairs(
        _docs(spark, sf_dir), k=3, w=4, min_shared=2, df_max=50
    )


@query(oracle=ext.CDC_SHARED_CHUNKS_SQL)
def _q_cdc_shared_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (FastCDC-lite, r8): rolling-hash
    boundaries (gear recurrence h ← 2·h + g mod 2²⁰ with NO reset,
    g = code·2654435761 mod 2²⁰; cut iff h < 2¹⁵ with 8 ≤ len ≤ 64)
    make chunk edges CONTENT-anchored, so an edit
    shifts only its own chunk and downstream chunks re-synchronize
    against the unedited copy — the storage-dedup primitive
    (LBFS/rsync/FastCDC) a fixed-size chunker cannot provide (pinned
    by test: one head edit, suffix chunks still dedup; fixed-size
    shares zero). Output: cross-doc shared chunk digests with their
    dedupable footprint. The boundary fold is map-only per document;
    the reuse aggregation one digest-grain partial-agg shuffle."""
    return cdc_shared_chunks(_docs(spark, sf_dir))


@query(oracle=ext.DEDUP_KEEP_LONGEST_SQL)
def _q_dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-policy dedup: same clusters as dedup_clusters, but the
    kept representative is the LONGEST member (ties → lowest id) — the
    curation-grade policy, computed as a partial-aggregated min-struct
    per cluster, never a window sort."""
    docs = _docs(spark, sf_dir)
    # near-dup pairs from the session's shared LSH-verified table
    pairs = _shared_text_pairs(spark, sf_dir).select("id_a", "id_b")
    clustered = dedup_clusters(docs, pairs).select("doc_id", "cluster_id")
    quality = docs.select("doc_id", F.length("text").alias("quality"))
    return keep_by_quality(clustered, quality)


@query(oracle=ext.DEDUP_THRESHOLD_SWEEP_SQL)
def _q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed Jaccard-decile sweep over the LSH candidate set with
    cumulative pairs-at-or-above — the table that PICKS the dedup
    threshold, next to the analytic lsh_s_curve. Exact integer ppm
    bands; false-positive candidates land in band 0."""
    return jaccard_threshold_sweep(_shared_profiles(spark, sf_dir))


@query(oracle=r9b.fs_em_sql(3))
def _q_fs_em_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage, EM-trained
    (Fellegi & Sunter 1969; Winkler 1988) — the LEARNED linker beside
    the deterministic link-key machinery, generalizing the
    reference's exact key-match rule to noisy agreement. Brand-
    blocked part pairs, 4-bit comparison vectors, 3 EM rounds with
    clamped u6 parameters; the posterior is one DECIMAL(38,0)
    rational per pair per round, and the oracle re-derives the FULL
    trajectory through chained MATERIALIZED CTEs. At sf0.01 EM
    separates a 0.6%-prevalence high-agreement class with m > u on
    every feature — unsupervised structure the exact-match rule
    cannot see."""
    return fs_em_train(load_table(spark, sf_dir, "part"), rounds=3)


@query(oracle=ext.DEDUP_WEIGHT_KEEP_SQL)
def _q_dedup_weight_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-with-weight dedup (r8): one representative per
    near-dup cluster (lowest id) carrying the cluster's multiplicity
    and token mass — the distribution-preserving alternative to
    dropping duplicates (train on the rep, weight the loss by how
    often the content occurred; the UniMax/data-weighting input
    table). One components pass + one cluster-grain rollup."""
    docs = _docs(spark, sf_dir)
    # near-dup pairs from the session's shared LSH-verified table
    pairs = _shared_text_pairs(spark, sf_dir).select("id_a", "id_b")
    labels = dedup_clusters(docs, pairs).select("doc_id", "cluster_id")
    ntok = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("bigint")
        .alias("_nt"),
    )
    return (
        labels.join(ntok, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("weight"),
            F.sum("_nt").alias("token_mass"),
        )
    )


@query(oracle=ext.DEDUP_EXACT_SQL)
def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(_docs(spark, sf_dir))


@query(oracle=ext.MINHASH_LSH_PAIRS_SQL)
def _q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # banding over the session's shared fingerprint table
    # (_textdup_shared) — one profile build per session, not per query
    return lsh_candidate_pairs(
        lsh_bands(_shared_profiles(spark, sf_dir))
    ).select(F.col("id_a"), F.col("id_b"))


@query(oracle=ext.NGRAM_JACCARD_DUPS_SQL)
def _q_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the default-threshold verified pair table IS this query's
    # output — read it from the session's shared build
    return _shared_text_pairs(spark, sf_dir)


@query(oracle=ext.DEDUP_CLUSTERS_SQL)
def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # near-dup pairs from the session's shared LSH-verified table
    pairs = _shared_text_pairs(spark, sf_dir).select("id_a", "id_b")
    return dedup_clusters(docs, pairs)


@query(oracle=ext.SIMHASH_SQL)
def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(_docs(spark, sf_dir))


@query(oracle=ext.DECONTAM_SQL)
def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return decontaminate(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
    )


@query(oracle=ext.REDACT_PII_SQL)
def _q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus carries no PII, so augment each row with a synthetic
    email/phone/IP derived from doc_id (same expression in the oracle)
    — the hash check then verifies real redactions, not a no-op."""
    aug = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +886 912 345 6"),
            F.col("doc_id").cast("string"),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".17"),
        ).alias("text"),
    )
    return redact_pii(aug)


@query(oracle=wad.PREFIX_JACCARD_PAIRS_SQL)
def _q_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join (PPJoin prefix filter): all
    distinct-text pairs with token Jaccard >= 3/5 — the oracle is the
    BRUTE-FORCE all-pairs join, so the hash match proves the filter
    lossless."""
    # one source slice: the synthetic corpus is ONE dense near-dup
    # family (J >= 0.6 holds for ~57% of ALL distinct-text pairs), so
    # the full-corpus exact join's OUTPUT is quadratic by construction
    # — at scale you run this after dedup_clusters collapses families,
    # or per slice; the slice is the representative workload
    return prefix_jaccard_join(
        load_table(spark, sf_dir, "documents").filter(
            F.col("source") == "src0"
        )
    )


@query(oracle=ext.LINE_DEDUP_SQL)
def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level duplicate-line removal. The synthetic
    corpus is single-line, so line boundaries are synthesized
    deterministically (the frequent token ' table ' becomes a newline
    — same plain-substring replace in the oracle) and any line whose
    text recurs anywhere in the corpus is dropped from every doc."""
    lined = _docs(spark, sf_dir).select(
        "doc_id", F.replace(F.col("text"), F.lit(" table "), F.lit("\n")).alias("text")
    )
    return dedup_lines(lined)


@query(oracle=ext.SUBSTRING_DEDUP_SQL)
def _q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MassiveText-style exact-substring duplication signal: 64-char
    windows at stride 16, md5-counted corpus-wide; per-document window
    counts and duplicated-span bounds (self-repeats included)."""
    return dup_substring_stats(_docs(spark, sf_dir))


@query(oracle=ext.SIMHASH_HAMMING_HIST_SQL)
def _q_simhash_hamming_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-sampling LSH over 32-bit simhash — banded bucket join, exact for
    max_hamming < bands, aggregated to a histogram."""
    pairs = simhash_hamming_pairs(
        _docs(spark, sf_dir), num_bits=32, bands=4, max_hamming=3
    )
    return pairs.groupBy("hamming").agg(F.count(F.lit(1)).alias("n_pairs"))


@query(oracle=ext.MINHASH_ESTIMATE_VS_TRUE_SQL)
def _q_minhash_estimate_vs_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash ESTIMATOR made visible: per LSH candidate pair, the
    number of agreeing minhash components (E[agree/k] = Jaccard — the
    property LSH banding is built on) next to the exact Jaccard from
    the shingle sets. Same fused profile frame serves signatures,
    bands, and both verify sides."""
    # profiles from the session's shared fingerprint table; the
    # threshold-0.0 verify is this query's own (the shared pair table
    # is the 0.5 gate), but the corpus shingle build is not repeated
    prof = _shared_profiles(spark, sf_dir)
    pairs = lsh_candidate_pairs(lsh_bands(prof))
    jac = jaccard_verify_profiles(pairs, prof, threshold=0.0)
    a = prof.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"_a{i}") for i in range(8)],
    )
    b = prof.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"_b{i}") for i in range(8)],
    )
    n_eq = sum(
        (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int") for i in range(8)
    )
    est = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", n_eq.alias("n_equal_mh"))
    )
    return est.join(jac, ["id_a", "id_b"]).select(
        "id_a", "id_b", "n_equal_mh", "jaccard"
    )


@query(oracle=ext.CONTAINMENT_DUPS_SQL)
def _q_containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric (containment) near-dup verify over LSH candidates:
    the corpus is augmented with an 80%-prefix copy of every 25th doc
    (mirrored in the oracle), and |A∩B|/min(|A|,|B|) flags them at
    ~0.98 where symmetric Jaccard reads only ~0.79 — the
    short-doc-inside-long-doc case a Jaccard-only pipeline misses."""
    docs = _docs(spark, sf_dir)
    aug = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.expr(
                "substring(text, 1, CAST(floor(length(text) * 0.8) AS INT))"
            ).alias("text"),
        )
    )
    prof = _tracked_persist(shingle_profiles(aug))
    pairs = lsh_candidate_pairs(lsh_bands(prof))
    return containment_verify_profiles(pairs, prof, threshold=0.8)


@query(oracle=ext.FUZZY_KEY_RECOVERY_SQL)
def _q_fuzzy_key_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked edit distance: every probe is a
    part name with its 3rd character deleted (a typo that BREAKS the
    leading-prefix block — only the reverse-prefix pass catches it,
    which is the multi-pass blocking design working as intended);
    the fused dictionary-grained fuzzy_best_link recovers the original
    part key (identical result to best_match ∘ fuzzy_join — the
    equivalence is pinned by tests/test_fuzzy.py — without
    materializing the r² id-level pair table that repeated names
    imply)."""
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.lower(F.col("p_name")).alias("t")
    )
    probes = parts.select(
        F.col("p_partkey").alias("qid"),
        F.concat(
            F.substring("t", 1, 2), F.expr("substring(t, 4, 1000000)")
        ).alias("qt"),
    )
    return fuzzy_best_link(
        parts, probes, "p_partkey", "qid", "t", "qt", max_dist=2, prefix=4
    ).select("qid", "p_partkey", "dist")


@query(oracle=ext.COPURCHASE_COMPONENTS_SQL)
def _q_copurchase_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the ≥2-co-occurrence graph: the dedup
    family's min-label resolution (union-find below the model-size
    threshold, distributed label-prop sweeps above — identical labels
    either way, property-tested) exposed as the graph primitive.
    Output: node, cluster_id (component minimum id)."""
    edges = _shared_edges(spark, sf_dir, 2)
    und = edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    return dedup_clusters(nodes, und, id_col="node").select(
        "node", "cluster_id"
    )


@query(oracle=ext.PART_ENTITY_RESOLUTION_SQL)
def _q_part_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: fuzzy-blocked candidate pairs
    over DISTINCT part names (the dictionary-grain rule), verified by
    levenshtein <= 2, resolved to connected components, and every part
    row labeled with its canonical (component-minimum) name — the
    record-linkage composition of fuzzy_join + dedup_clusters."""
    part = load_table(spark, sf_dir, "part")
    names = part.select(
        F.lower(F.trim(F.col("p_name"))).alias("name")
    ).distinct()
    pairs = (
        fuzzy_join(
            names.select(
                F.col("name").alias("id_a"), F.col("name").alias("name_a")
            ),
            names.select(
                F.col("name").alias("id_b"), F.col("name").alias("name_b")
            ),
            "id_a",
            "id_b",
            "name_a",
            "name_b",
            max_dist=2,
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    labels = dedup_clusters(names, pairs, id_col="name")
    return (
        part.select(
            "p_partkey", F.lower(F.trim(F.col("p_name"))).alias("name")
        )
        .join(labels.select("name", "cluster_id"), "name")
        .select("p_partkey", F.col("cluster_id").alias("entity"))
    )


@query(oracle=ext.TOP_DUP_NGRAMS_SQL)
def _q_top_duplicated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus forensics: the most-duplicated 5-grams (document
    frequency over distinct per-doc shingles) — the repeated-n-gram
    analysis C4/Gopher-style cleaning runs to surface boilerplate.
    Global top-50 via orderBy+limit (TakeOrderedAndProject: map-side
    partial top-k, never a single-partition window)."""
    sh = shingles(_docs(spark, sf_dir), n=5)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("shingle"))
        .limit(50)
    )


@query(oracle=ext.TFIDF_COSINE_PAIRS_SQL)
def _q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sparse similarity join: TF-IDF cosine >= 1/2 over word
    bigrams — rare-term-weighted near-dup detection, the IR-classic
    complement to the Jaccard/MinHash set-overlap family (integer-
    rational IDF + cross-multiplied threshold: exact end to end)."""
    return tfidf_cosine_pairs(_docs(spark, sf_dir), df_max=60)


@query(oracle=ext.HASHED_DOC_TOPK_SQL)
def _q_hashed_doc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-free retrieval: feature-hashed signed-count vectors
    (256 md5 buckets) + per-query top-10 by float-free integer cosine
    rank — the hashing-trick first-pass retriever; query panel =
    doc_id % 97 == 0."""
    return hashed_doc_topk(_docs(spark, sf_dir), query_mod=97, k=10)


@query(oracle=ext.SNM_PART_PAIRS_SQL)
def _q_snm_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate pairs over distinct part names:
    window-3 sort adjacency + Levenshtein ≤ 4 verify — the sort-based
    third blocking strategy beside fuzzy_join's prefix/suffix blocks
    and the LSH family; global positions ride the two-phase
    global_rank, the neighbor join is an exploded-rank EQUI-join."""
    return snm_pairs(
        load_table(spark, sf_dir, "part"), "p_name", window=3, max_dist=4
    )


@query(oracle=ext.HASHED_DOC_CLUSTERS_SQL)
def _q_hashed_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text clustering without an embedding model, hash-checked end to
    end: hashing-trick dense 64-dim vectors → bit-portable integer
    k-means (k=4, 2 unrolled Lloyd iterations) → exact integer
    squared-L2 assignment."""
    return hashed_doc_clusters(_docs(spark, sf_dir), k=4, iters=2, dim=64)


@query(oracle=ext.PRICE_BAND_PAIRS_SQL)
def _q_price_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join: per-brand-pair count of part pairs within ±25 cents
    of retail price — bucket+neighbor equi-join with residual filter,
    at distinct (brand, price) cell grain."""
    parts = load_table(spark, sf_dir, "part").select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("price_c"),
    )
    return band_pair_counts(parts, "brand", "price_c", eps=25)


@query(oracle=ext.ORDER_BASKET_NEAR_DUPS_SQL)
def _q_order_basket_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact small-set similarity join: order pairs whose item sets
    differ by ≤ 2 elements, via deletion-neighborhood blocking
    (SSJoin/FastSS) — linear key volume, residual verify."""
    li = load_table(spark, sf_dir, "lineitem")
    return deletion_neighbor_pairs(li, "l_orderkey", "l_partkey")
