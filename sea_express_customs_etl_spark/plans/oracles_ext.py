"""DuckDB oracle SQL for the extension operators (dedup, similarity,
text analysis). Mirrors ``operators/dedup.py``, ``operators/similarity.py``
and ``operators/textstats.py`` fragment-for-fragment.

Cross-engine determinism rules used throughout:

* all hashing is md5 (identical hex in both engines)
* ratio arithmetic is integer-ratio → double with identical operation
  order, rounded to a fixed scale
* dot products fold left-to-right over the same double arrays in both
  engines (Spark ``aggregate``, DuckDB ``list_inner_product``) and are
  rounded before any ranking; ranking ties break by id
* row_number outputs are cast to INTEGER to match Spark's int
"""

from __future__ import annotations

# --------------------------------------------------------------------------
# shared CTE fragments
# --------------------------------------------------------------------------

_TOKS = "regexp_split_to_array(trim(text), '\\s+')"

_SHINGLES = f"""
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    WHERE len(toks) >= 3))
"""

_MH = ", ".join(
    f"min(md5('{i}|' || shingle)) AS mh_{i}" for i in range(8)
)

_SIG = f"sig AS (SELECT doc_id, {_MH} FROM sh GROUP BY doc_id)"

_BANDS = """
band AS (
  SELECT doc_id, unnest([
      md5('0' || '|' || mh_0 || '|' || mh_1 || '|' || mh_2 || '|' || mh_3),
      md5('1' || '|' || mh_4 || '|' || mh_5 || '|' || mh_6 || '|' || mh_7)
  ]) AS band FROM sig)
"""

_PAIRS = """
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM band a JOIN band b USING (band)
  WHERE a.doc_id < b.doc_id)
"""

DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, min(doc_id) AS rep_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""

MINHASH_LSH_PAIRS_SQL = f"""
WITH {_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS}
SELECT id_a, id_b FROM pairs
"""

NGRAM_JACCARD_DUPS_SQL = f"""
WITH {_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS n_inter
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2)
SELECT i.id_a, i.id_b,
       round(i.n_inter / (za.n_sh + zb.n_sh - i.n_inter), 4) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE round(i.n_inter / (za.n_sh + zb.n_sh - i.n_inter), 4) >= 0.5
"""

EMBEDDING_NEAR_DUPS_SQL = """
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nn
  FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_inner_product(a.v, b.v) / (a.nn * b.nn), 6) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_inner_product(a.v, b.v) / (a.nn * b.nn), 6) >= 0.4
"""

# simhash over 16 bits: per distinct token, md5 leading hex nibbles vote
_SIMHASH_VOTES = ", ".join(
    "sum(CASE WHEN ((instr('0123456789abcdef', substr(h, {k}, 1)) - 1) >> {m}) & 1 = 1 "
    "THEN 1 ELSE -1 END) AS v_{j}".format(k=j // 4 + 1, m=j % 4, j=j)
    for j in range(16)
)
_SIMHASH_SIG = " + ".join(
    f"CASE WHEN v_{j} > 0 THEN {2**j} ELSE 0 END" for j in range(16)
)

SIMHASH_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok FROM documents),
h AS (SELECT doc_id, md5(tok) AS h FROM toks),
votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({_SIMHASH_SIG} AS BIGINT) AS simhash FROM votes
"""

# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------

_NRM = """
nrm AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS n
  FROM embeddings)
"""

COSINE_TOPK_SQL = f"""
WITH {_NRM},
q AS (SELECT * FROM nrm WHERE vec_id < 10),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_inner_product(q.v, c.v) / (q.n * c.n), 6) AS cosine
  FROM q JOIN nrm c ON c.vec_id <> q.vec_id)
SELECT query_id, neighbor_id, cosine
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rn FROM sims)
WHERE rn <= 10
"""

ANN_IVF_TOPK_SQL = f"""
WITH {_NRM},
cen AS (SELECT vec_id AS centroid_id, v AS cv, n AS cn FROM nrm WHERE vec_id < 16),
asg AS (
  SELECT vec_id, v, n, centroid_id AS cluster FROM (
    SELECT e.vec_id, e.v, e.n, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_inner_product(e.v, c.cv) / (e.n * c.cn), 6) DESC,
                        c.centroid_id) AS rn
    FROM nrm e CROSS JOIN cen c)
  WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv, n AS qn, cluster
      FROM asg WHERE vec_id < 10),
sims AS (
  SELECT q.query_id, a.vec_id AS neighbor_id, a.cluster,
         round(list_inner_product(q.qv, a.v) / (q.qn * a.n), 6) AS cosine
  FROM q JOIN asg a USING (cluster)
  WHERE a.vec_id <> q.query_id)
SELECT query_id, neighbor_id, cosine, cluster
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rn FROM sims)
WHERE rn <= 5
"""

ANN_IVF_NPROBE2_SQL = f"""
WITH {_NRM},
cen AS (SELECT vec_id AS centroid_id, v AS cv, n AS cn FROM nrm WHERE vec_id < 16),
asg AS (
  SELECT vec_id, v, n, centroid_id AS cluster FROM (
    SELECT e.vec_id, e.v, e.n, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_inner_product(e.v, c.cv) / (e.n * c.cn), 6) DESC,
                        c.centroid_id) AS rn
    FROM nrm e CROSS JOIN cen c)
  WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv, n AS qn FROM nrm WHERE vec_id < 10),
probes AS (
  SELECT query_id, qv, qn, centroid_id AS cluster FROM (
    SELECT q.query_id, q.qv, q.qn, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY round(list_inner_product(q.qv, c.cv) / (q.qn * c.cn), 6) DESC,
                        c.centroid_id) AS pr
    FROM q CROSS JOIN cen c)
  WHERE pr <= 2),
sims AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, a.cluster,
         round(list_inner_product(p.qv, a.v) / (p.qn * a.n), 6) AS cosine
  FROM probes p JOIN asg a USING (cluster)
  WHERE a.vec_id <> p.query_id)
SELECT query_id, neighbor_id, cosine, cluster
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rn FROM sims)
WHERE rn <= 5
"""

IVF_NEAR_DUPS_SQL = f"""
WITH {_NRM},
cen AS (SELECT vec_id AS centroid_id, v AS cv, n AS cn FROM nrm WHERE vec_id < 16),
asg AS (
  SELECT vec_id, v, n, centroid_id AS cluster FROM (
    SELECT e.vec_id, e.v, e.n, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_inner_product(e.v, c.cv) / (e.n * c.cn), 6) DESC,
                        c.centroid_id) AS rn
    FROM nrm e CROSS JOIN cen c)
  WHERE rn = 1)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster,
       round(list_inner_product(a.v, b.v) / (a.n * b.n), 6) AS cosine
FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE round(list_inner_product(a.v, b.v) / (a.n * b.n), 6) >= 0.4
"""

# --------------------------------------------------------------------------
# repetition / quality gates (Gopher-style) + deterministic sampling
# --------------------------------------------------------------------------

_BIGRAMS = (
    "CASE WHEN len(toks) >= 2 "
    "THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) "
    "ELSE CAST([] AS VARCHAR[]) END"
)

REPETITION_STATS_SQL = f"""
WITH base AS (
  SELECT doc_id, string_split(text, chr(10)) AS lines, {_TOKS} AS toks
  FROM documents),
b AS (SELECT doc_id, lines, toks, {_BIGRAMS} AS bg FROM base)
SELECT doc_id,
       CAST(len(lines) AS INTEGER) AS n_lines,
       round((len(lines) - len(list_distinct(lines))) / len(lines), 4)
           AS dup_line_frac,
       round((len(toks) - len(list_distinct(toks))) / len(toks), 4)
           AS dup_word_frac,
       CASE WHEN len(bg) > 0
            THEN round(list_max(list_transform(list_distinct(bg),
                     d -> len(list_filter(bg, x -> x = d)))) / len(bg), 4)
            ELSE 0.0 END AS top_bigram_frac
FROM b
"""

QUALITY_GATE_SQL = f"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks,
         length(regexp_replace(text, '\\s', '', 'g')) AS no_ws
  FROM documents),
b AS (SELECT doc_id, toks, no_ws, {_BIGRAMS} AS bg FROM base),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_words,
         round(no_ws / len(toks), 4) AS avg_word_len,
         round((len(toks) - len(list_distinct(toks))) / len(toks), 4)
             AS dup_word_frac,
         CASE WHEN len(bg) > 0
              THEN round(list_max(list_transform(list_distinct(bg),
                       d -> len(list_filter(bg, x -> x = d)))) / len(bg), 4)
              ELSE 0.0 END AS top_bigram_frac
  FROM b),
f AS (
  SELECT *,
         (n_words >= 40 AND n_words <= 100000) AS words_ok,
         (avg_word_len >= 3.0 AND avg_word_len <= 10.0) AS avg_len_ok,
         (dup_word_frac <= 0.6 AND top_bigram_frac <= 0.05) AS repetition_ok
  FROM m)
SELECT doc_id, n_words, avg_word_len, dup_word_frac, top_bigram_frac,
       words_ok, avg_len_ok, repetition_ok,
       (words_ok AND avg_len_ok AND repetition_ok) AS passed
FROM f
"""

HASH_SAMPLE_SQL = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{t}'
"""

HASH_SPLIT_SQL = """
SELECT doc_id,
       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{t_train}'
                THEN 'train'
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{t_val}'
                THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""

# domain_mix: B = floor(min(n_d / t_d)); keep iff hash32 < floor(t·B/n·16^8).
# Expression shapes/order mirror operators/sampling.py:domain_mix exactly
# (left-assoc t*b/n*2^32, floor-after-min) so the IEEE double arithmetic
# is bit-identical across engines.
DOMAIN_MIX_SQL = """
WITH tgt(source, t) AS (VALUES
    ('src0', CAST(0.4 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
    ('src2', CAST(0.2 AS DOUBLE)), ('src3', CAST(0.1 AS DOUBLE))),
counts AS (
  SELECT source, CAST(count(*) AS DOUBLE) AS n
  FROM documents GROUP BY source),
j AS (SELECT c.source, c.n, tgt.t FROM counts c JOIN tgt USING (source)),
b AS (SELECT floor(min(n / t)) AS bud FROM j),
thr AS (
  SELECT source, CAST(floor(t * bud / n * 4294967296.0) AS BIGINT) AS thr
  FROM j, b)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN thr USING (source)
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < thr
"""

# --------------------------------------------------------------------------
# xlsx connector lineage (queries/ingest.py:_q_manifest_xlsx_ingest): the
# Spark side synthesizes a new-format .xlsx manifest FROM the part
# table (anchor HAWB every 3rd row, positional A/D/J/K/N/O cells) and
# parses it back through read_manifests_raw → declared_cargo; this SQL
# recomputes the expected parse output from part directly. `//` is
# integer division: row i's HAWB is the anchor at ((i-1)//3)*3+1.
# --------------------------------------------------------------------------

MANIFEST_XLSX_SQL = """
WITH p AS (
  SELECT p_partkey, p_name, p_size,
         row_number() OVER (ORDER BY p_partkey) AS rn
  FROM part WHERE p_partkey <= 300),
j AS (
  SELECT c.rn, c.p_name, c.p_size,
         'H' || CAST(a.p_partkey AS VARCHAR) AS hawb
  FROM p c JOIN p a ON a.rn = ((c.rn - 1) // 3) * 3 + 1)
SELECT 'M77EX' AS mawb_no,
       hawb AS hawb_no,
       CAST(row_number() OVER (PARTITION BY hawb ORDER BY rn) AS INTEGER)
           AS item_no,
       p_name AS description_original,
       CAST(p_size AS DOUBLE) AS qty,
       'PCE' AS qty_unit,
       CAST(p_size * 10 AS DOUBLE) AS unit_price,
       CAST(p_size * 10 * p_size AS DOUBLE) AS total_amount,
       CAST(rn - 1 AS BIGINT) AS _row_idx
FROM j
"""

# --------------------------------------------------------------------------
# product quantization (operators/pq.py); m=8 subspaces over 64 dims,
# codebook = subvectors of vec_id < 16, queries = vec_id < 10.
# Distances are squared-L2 in micro-units (bigint) — exactly summable,
# so the cross-subspace ADC sum is aggregation-order-independent and
# hash-stable across engines.
# --------------------------------------------------------------------------

_PQ_PRELUDE = """
base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sv AS (
  SELECT vec_id, g.j AS subspace, v[g.j*8+1 : g.j*8+8] AS subvec
  FROM base, generate_series(0, 7) g(j)),
cb AS (SELECT subspace, vec_id AS code, subvec AS codeword
       FROM sv WHERE vec_id < 16),
scored AS (
  SELECT sv.vec_id, sv.subspace, cb.code,
         CAST(round(list_sum(list_transform(list_zip(sv.subvec, cb.codeword),
              s -> (s[1] - s[2]) * (s[1] - s[2]))) * 1000000.0) AS BIGINT) AS d
  FROM sv JOIN cb USING (subspace)),
enc AS (
  SELECT vec_id, subspace, code
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
             ORDER BY d, code) AS rn FROM scored)
  WHERE rn = 1)
"""

# Quantized k-means (operators/similarity.py:kmeans_fit_q): k=4,
# iters=2 unrolled. Micro-unit integer vectors make every distance and
# sum exact; means are floor(sum/count); empty clusters keep the prior
# centroid (the left-join coalesce below = the operator's keep rule).
_KMQ_ITER = """
a{i} AS (
  SELECT q.vec_id, q.v, c.cluster,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY
             list_sum(list_transform(list_zip(q.v, c.v),
                      s -> (s[1] - s[2]) * (s[1] - s[2]))), c.cluster) AS rn
  FROM q, cent{j} c),
m{i} AS (
  SELECT a.cluster, g.d AS dim,
         CAST(floor(sum(a.v[g.d + 1]) / count(*)) AS BIGINT) AS m
  FROM a{i} a, generate_series(0, 63) g(d)
  WHERE a.rn = 1
  GROUP BY 1, 2),
built{i} AS (
  SELECT cluster, list(m ORDER BY dim) AS v FROM m{i} GROUP BY cluster),
cent{i} AS (
  SELECT p.cluster, coalesce(b.v, p.v) AS v
  FROM cent{j} p LEFT JOIN built{i} b USING (cluster))
"""

_KMQ_PRELUDE = f"""
q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 1000000.0) AS BIGINT)) AS v
  FROM embeddings),
cent0 AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
             - 1 AS cluster, v
  FROM q
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 4),
{_KMQ_ITER.format(i=1, j=0)},
{_KMQ_ITER.format(i=2, j=1)}
"""

KMEANS_Q_SQL = f"""
WITH {_KMQ_PRELUDE}
SELECT cluster, g.d AS dim, v[g.d + 1] AS c_u6
FROM cent2, generate_series(0, 63) g(d)
"""

# IVF search over the TRAINED integer centroids (operators/
# similarity.py:ivf_topk_q, VERDICT r5 #1): assignment, probe ranking
# (nprobe=2) and the final top-5 all use the exact bigint squared-L2
# of the training loop — train → index → query hash-checked end to
# end. Ties → lowest cluster / lowest neighbor id.
_KMQ_D2 = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "s -> (s[1]-s[2])*(s[1]-s[2])))"
)

KMEANS_IVF_TOPK_SQL = f"""
WITH {_KMQ_PRELUDE},
asg AS (
  SELECT vec_id, v, cluster FROM (
    SELECT q.vec_id, q.v, c.cluster,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
               {_KMQ_D2.format(a='q.v', b='c.v')}, c.cluster) AS rn
    FROM q, cent2 c)
  WHERE rn = 1),
qq AS (SELECT vec_id AS query_id, v AS qv FROM q WHERE vec_id < 10),
probes AS (
  SELECT query_id, qv, cluster FROM (
    SELECT qq.query_id, qq.qv, c.cluster,
           row_number() OVER (PARTITION BY qq.query_id ORDER BY
               {_KMQ_D2.format(a='qq.qv', b='c.v')}, c.cluster) AS pr
    FROM qq, cent2 c)
  WHERE pr <= 2),
sims AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, a.cluster,
         CAST({_KMQ_D2.format(a='p.qv', b='a.v')} AS BIGINT) AS d2_u12
  FROM asg a JOIN probes p USING (cluster)
  WHERE a.vec_id <> p.query_id)
SELECT query_id, neighbor_id, cluster, d2_u12
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY d2_u12, neighbor_id) AS rn FROM sims)
WHERE rn <= 5
"""

PQ_CODES_SQL = f"""
WITH {_PQ_PRELUDE}
SELECT vec_id, subspace, code FROM enc
"""

# IVFPQ (operators/pq.py:ivfpq_topk): L2 coarse quantizer (centroids =
# vec_id<16) → PQ over RESIDUALS (codebook = residual subvectors of the
# same id sample) → ADC within the query's own cell. All distances in
# micro-unit integers — exact sums, engine-portable.
_D2U6 = (
    "CAST(round(list_sum(list_transform(list_zip({a}, {b}), "
    "s -> (s[1]-s[2])*(s[1]-s[2]))) * 1000000.0) AS BIGINT)"
)

IVFPQ_TOPK_SQL = f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cen AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < 16),
asg AS (
  SELECT vec_id, v, cluster, cv FROM (
    SELECT b.vec_id, b.v, c.cid AS cluster, c.cv,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
               {_D2U6.format(a='b.v', b='c.cv')}, c.cid) AS rn
    FROM base b, cen c)
  WHERE rn = 1),
res AS (SELECT vec_id, cluster,
               list_transform(list_zip(v, cv), s -> s[1] - s[2]) AS r
        FROM asg),
rsv AS (
  SELECT vec_id, cluster, g.j AS subspace, r[g.j*8+1 : g.j*8+8] AS subvec
  FROM res, generate_series(0, 7) g(j)),
cb AS (SELECT subspace, vec_id AS code, subvec AS codeword
       FROM rsv WHERE vec_id >= 16 AND vec_id < 48),
scored AS (
  SELECT rsv.vec_id, rsv.cluster, rsv.subspace, cb.code,
         {_D2U6.format(a='rsv.subvec', b='cb.codeword')} AS d
  FROM rsv JOIN cb USING (subspace)),
enc AS (
  SELECT vec_id, cluster, subspace, code
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
             ORDER BY d, code) AS rn FROM scored)
  WHERE rn = 1),
lut AS (SELECT vec_id AS query_id, cluster AS qc, subspace, code, d
        FROM scored WHERE vec_id < 10),
sims AS (
  SELECT l.query_id, e.vec_id AS neighbor_id, e.cluster,
         CAST(SUM(l.d) AS BIGINT) AS dist_u6
  FROM enc e JOIN lut l
    ON e.cluster = l.qc AND e.subspace = l.subspace AND e.code = l.code
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2, 3)
SELECT query_id, neighbor_id, cluster, dist_u6
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY dist_u6, neighbor_id) AS rn FROM sims)
WHERE rn <= 5
"""

# Multi-probe IVFPQ (nprobe=2): cells ranked per query by coarse
# micro-L2 (ties → lowest centroid id — identical to the assignment
# argmin, so probe #1 is the own cell), and the query residual is
# CELL-RELATIVE: one LUT row set per (query, probed cell).
IVFPQ_NPROBE2_SQL = f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cen AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < 16),
asg AS (
  SELECT vec_id, v, cluster, cv FROM (
    SELECT b.vec_id, b.v, c.cid AS cluster, c.cv,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
               {_D2U6.format(a='b.v', b='c.cv')}, c.cid) AS rn
    FROM base b, cen c)
  WHERE rn = 1),
res AS (SELECT vec_id, cluster,
               list_transform(list_zip(v, cv), s -> s[1] - s[2]) AS r
        FROM asg),
rsv AS (
  SELECT vec_id, cluster, g.j AS subspace, r[g.j*8+1 : g.j*8+8] AS subvec
  FROM res, generate_series(0, 7) g(j)),
cb AS (SELECT subspace, vec_id AS code, subvec AS codeword
       FROM rsv WHERE vec_id >= 16 AND vec_id < 48),
scored AS (
  SELECT rsv.vec_id, rsv.cluster, rsv.subspace, cb.code,
         {_D2U6.format(a='rsv.subvec', b='cb.codeword')} AS d
  FROM rsv JOIN cb USING (subspace)),
enc AS (
  SELECT vec_id, cluster, subspace, code
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
             ORDER BY d, code) AS rn FROM scored)
  WHERE rn = 1),
probes AS (
  SELECT query_id, cid AS qc,
         list_transform(list_zip(qv, cv), s -> s[1] - s[2]) AS qres
  FROM (
    SELECT q.vec_id AS query_id, c.cid, q.v AS qv, c.cv,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
               {_D2U6.format(a='q.v', b='c.cv')}, c.cid) AS pr
    FROM base q, cen c WHERE q.vec_id < 10)
  WHERE pr <= 2),
qsv AS (
  SELECT query_id, qc, g.j AS subspace, qres[g.j*8+1 : g.j*8+8] AS subvec
  FROM probes, generate_series(0, 7) g(j)),
lut AS (
  SELECT q.query_id, q.qc, q.subspace, cb.code,
         {_D2U6.format(a='q.subvec', b='cb.codeword')} AS d
  FROM qsv q JOIN cb USING (subspace)),
sims AS (
  SELECT l.query_id, e.vec_id AS neighbor_id, e.cluster,
         CAST(SUM(l.d) AS BIGINT) AS dist_u6
  FROM enc e JOIN lut l
    ON e.cluster = l.qc AND e.subspace = l.subspace AND e.code = l.code
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2, 3)
SELECT query_id, neighbor_id, cluster, dist_u6
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY dist_u6, neighbor_id) AS rn FROM sims)
WHERE rn <= 5
"""

PQ_TOPK_SQL = f"""
WITH {_PQ_PRELUDE},
lut AS (SELECT vec_id AS query_id, subspace, code, d
        FROM scored WHERE vec_id < 10),
sims AS (
  SELECT l.query_id, e.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS dist_u6
  FROM enc e JOIN lut l ON e.subspace = l.subspace AND e.code = l.code
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2)
SELECT query_id, neighbor_id, dist_u6
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY dist_u6, neighbor_id) AS rn FROM sims)
WHERE rn <= 5
"""

# --------------------------------------------------------------------------
# hourly gap-fill + LOCF (operators/timeseries.py): epoch-hour integer
# buckets; the scalar-list form `unnest(generate_series(lo, hi))`
# accepts column bounds (the TABLE-function form doesn't). last_value
# IGNORE NULLS over unique hours = Spark's last(ignorenulls=True).
# --------------------------------------------------------------------------

EVENTS_GAPFILL_SQL = """
WITH e AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS epoch_hour,
         CAST(round(value * 1000000) AS BIGINT) AS v6
  FROM events),
h AS (
  SELECT event_type, epoch_hour,
         CAST(count(*) AS INTEGER) AS n_events,
         CAST(sum(v6) AS BIGINT) AS sum_value_u6
  FROM e GROUP BY 1, 2),
b AS (SELECT min(epoch_hour) AS lo, max(epoch_hour) AS hi FROM h),
spine AS (
  SELECT t.event_type, unnest(generate_series(b.lo, b.hi)) AS epoch_hour
  FROM (SELECT DISTINCT event_type FROM h) t, b)
SELECT s.event_type, s.epoch_hour,
       coalesce(h.n_events, 0) AS n_events,
       h.sum_value_u6,
       last_value(h.sum_value_u6 IGNORE NULLS) OVER (
           PARTITION BY s.event_type ORDER BY s.epoch_hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS locf_value_u6
FROM spine s LEFT JOIN h USING (event_type, epoch_hour)
"""

# --------------------------------------------------------------------------
# hashing-trick linear classifier (operators/textstats.py:
# hashed_logit_score): bucket = md5(tok) % 1024, derived weight =
# md5('w|'||bucket) % 2001 − 1000, logit = Σ cnt·w — all integers.
# --------------------------------------------------------------------------

QUALITY_CLASSIFIER_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
b AS (
  SELECT doc_id,
         (('0x' || substring(md5(tok), 1, 12))::BIGINT % 1024)::INTEGER
             AS bucket
  FROM toks),
pb AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
w AS (
  SELECT pb.*,
         (('0x' || substring(md5('w|' || CAST(bucket AS VARCHAR)), 1, 12))
              ::BIGINT % 2001) - 1000 AS wgt
  FROM pb)
SELECT doc_id,
       CAST(sum(cnt) AS INTEGER) AS n_tokens,
       CAST(sum(cnt * wgt) AS BIGINT) AS logit
FROM w GROUP BY doc_id
"""

# --------------------------------------------------------------------------
# embedding mean-pooling (operators/similarity.py:pool_embeddings_q):
# micro-unit quantize → integer sums → floor mean, the kmeans_fit_q
# bit-portability rule applied to chunk→document pooling.
# --------------------------------------------------------------------------

EMBEDDING_POOL_SQL = """
WITH q AS (
  SELECT vec_id // 8 AS group_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 1000000.0) AS BIGINT)) AS v
  FROM embeddings)
SELECT group_id, CAST(g.d AS INTEGER) AS dim,
       CAST(count(*) AS INTEGER) AS n_vecs,
       CAST(floor(sum(v[g.d + 1]) / count(*)) AS BIGINT) AS mean_u6
FROM q, generate_series(0, 63) g(d)
GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# exact-substring duplication signal (operators/hygiene.py:
# dup_substring_stats): 64-char windows at stride 16, md5-hashed
# corpus-wide; windows recurring beyond once mark duplicated spans.
# Self-repeats count (MassiveText semantics). `//` = integer division.
# --------------------------------------------------------------------------

SUBSTRING_DEDUP_SQL = """
WITH lens AS (
  SELECT doc_id, text, (length(text) - 64) // 16 AS max_i
  FROM documents WHERE length(text) >= 64),
idx AS (
  -- constant upper bound (generate_series takes only constants here):
  -- 65536 window starts cover documents up to ~1 MB of text at
  -- stride 16; the ON filter keeps only real offsets
  SELECT i FROM generate_series(0, 65536) g(i)),
wins AS (
  SELECT l.doc_id, g.i * 16 AS off,
         md5(substring(l.text, g.i * 16 + 1, 64)) AS h
  FROM lens l JOIN idx g ON g.i <= l.max_i),
counts AS (SELECT h, count(*) AS cnt FROM wins GROUP BY h),
stats AS (
  SELECT w.doc_id,
         CAST(count(*) AS INTEGER) AS n_windows,
         CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS INTEGER)
             AS n_dup_windows,
         CAST(min(CASE WHEN c.cnt > 1 THEN w.off END) AS INTEGER) AS dup_lo,
         CAST(max(CASE WHEN c.cnt > 1 THEN w.off + 64 END) AS INTEGER)
             AS dup_hi
  FROM wins w JOIN counts c USING (h) GROUP BY w.doc_id)
SELECT d.doc_id,
       coalesce(s.n_windows, 0) AS n_windows,
       coalesce(s.n_dup_windows, 0) AS n_dup_windows,
       s.dup_lo, s.dup_hi
FROM documents d LEFT JOIN stats s USING (doc_id)
"""

# --------------------------------------------------------------------------
# deterministic sketches (operators/sketches.py): md5-based HyperLogLog
# registers, Count-Min cells, Bloom-filter words — the sketch STATE is
# integer-exact, so it hash-checks across engines (the reason these
# exist instead of approx_count_distinct, whose internal hashing is
# engine-specific). 48-bit hash prefix = ('0x' || 12 hex chars)::BIGINT,
# identical to Spark's conv(substring(md5(..),1,12),16,10).
# --------------------------------------------------------------------------

_SKETCH_TOKS = """
toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents)
"""

_H48 = "('0x' || substring(md5({v}), 1, 12))::BIGINT"

HLL_TOKENS_SQL = f"""
WITH {_SKETCH_TOKS},
h AS (SELECT {_H48.format(v='tok')} AS h48 FROM toks),
r AS (SELECT (h48 % 256)::INTEGER AS bucket,
             h48 // 256 AS w
      FROM h)
SELECT bucket,
       CAST(max(CASE WHEN w = 0 THEN 41
                     ELSE 41 - length(ltrim(bin(w), '0')) END) AS INTEGER)
           AS max_rank
FROM r GROUP BY bucket
"""

CMS_TOKEN_FREQS_SQL = f"""
WITH {_SKETCH_TOKS},
c AS (
  SELECT g.i AS sketch_row,
         ({_H48.format(v="CAST(g.i AS VARCHAR) || '|' || tok")} % 256)::INTEGER
             AS col
  FROM toks, generate_series(0, 3) g(i))
SELECT sketch_row, col, CAST(count(*) AS BIGINT) AS cnt
FROM c GROUP BY 1, 2
"""

BLOOM_PROBE_SQL = f"""
WITH {_SKETCH_TOKS},
vocab AS (SELECT DISTINCT tok FROM toks WHERE doc_id % 7 = 0),
vb AS (
  SELECT ({_H48.format(v="CAST(g.j AS VARCHAR) || '|' || tok")} % 65536)
             AS bit
  FROM vocab, generate_series(0, 3) g(j)),
words AS (
  SELECT (bit // 32)::INTEGER AS word_idx,
         bit_or(CAST(power(2, bit % 32) AS BIGINT)) AS bits
  FROM vb GROUP BY 1),
probe AS (SELECT DISTINCT tok FROM toks),
pb AS (
  SELECT p.tok,
         ({_H48.format(v="CAST(g.j AS VARCHAR) || '|' || p.tok")} % 65536)
             AS bit
  FROM probe p, generate_series(0, 3) g(j)),
hits AS (
  SELECT pb.tok,
         CASE WHEN (coalesce(w.bits, 0)
                    & CAST(power(2, pb.bit % 32) AS BIGINT)) <> 0
              THEN 1 ELSE 0 END AS hit
  FROM pb LEFT JOIN words w ON w.word_idx = (pb.bit // 32)::INTEGER)
SELECT tok, CAST(min(hit) AS INTEGER) AS might_contain
FROM hits GROUP BY tok
"""

# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

_STOPS = "('the', 'a', 'and', 'of', 'to', 'in', 'is')"

TEXT_STATS_SQL = f"""
WITH base AS (
  SELECT doc_id, text, {_TOKS} AS toks,
         CAST(length(text) AS INTEGER) AS n_chars,
         CAST(length(regexp_replace(text, '\\s', '', 'g')) AS INTEGER) AS no_ws,
         CAST(length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS INTEGER) AS no_punct
  FROM documents),
d AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_words,
         n_chars, no_ws,
         round((n_chars - no_punct) / n_chars, 4) AS punct_ratio,
         round(len(list_filter(toks, t -> lower(t) IN {_STOPS})) / len(toks), 4)
             AS stop_ratio
  FROM base)
SELECT doc_id, n_words,
       n_chars AS n_chars_calc,
       round(no_ws / n_words, 4) AS avg_word_len,
       punct_ratio, stop_ratio,
       round(least(1.0, n_words / 100.0) * 0.4 + stop_ratio * 0.3
             + (1 - punct_ratio) * 0.3, 4) AS quality_score
FROM d
"""

LANG_ID_SQL = f"""
SELECT doc_id,
  CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
       WHEN len(list_filter(toks, t -> lower(t) IN ('the', 'and'))) > 0 THEN 'en'
       WHEN len(list_filter(toks, t -> lower(t) IN ('der', 'und'))) > 0 THEN 'de'
       WHEN len(list_filter(toks, t -> lower(t) IN ('le', 'et'))) > 0 THEN 'fr'
       WHEN len(list_filter(toks, t -> lower(t) IN ('el', 'y'))) > 0 THEN 'es'
       ELSE 'unknown' END AS predicted_lang
FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
"""

TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS INTEGER) AS ws_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_tokens_est
FROM documents
"""

TFIDF_TOP_TERMS_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tfc FROM terms GROUP BY 1, 2),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS dfc FROM terms GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tfc * (ln((n.n_docs + 1.0) / (dfreq.dfc + 1.0)) + 1.0), 4)
             AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
SELECT doc_id, term, tfidf, CAST(rk AS INTEGER) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY tfidf DESC, term) AS rk FROM scored)
WHERE rk <= 3
"""

EVENT_VALUE_PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       round(max(value), 4) AS p100
FROM events
GROUP BY 1
"""

FINGERPRINT_SQL = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""

# n-gram language ID: scores generated from the SAME profile table the
# Spark operator uses, so the two sides cannot drift
def _lang_scores_sql() -> str:
    from sea_express_customs_etl_spark.operators.textstats import (
        LANG_TRIGRAM_PROFILES,
    )

    terms = []
    for lang, tris in LANG_TRIGRAM_PROFILES.items():
        occ = " + ".join(
            f"(length(t) - length(replace(t, '{tri}', ''))) / 3" for tri in tris
        )
        terms.append(f"CAST({occ} AS INTEGER) AS s_{lang}")
    return ", ".join(terms)


LANG_ID_NGRAM_SQL = f"""
WITH low AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS t FROM documents),
s AS (SELECT doc_id, text, {_lang_scores_sql()} FROM low),
b AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS best FROM s)
SELECT doc_id,
       CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
            WHEN s_en = best AND best > 0 THEN 'en'
            WHEN s_de = best AND best > 0 THEN 'de'
            WHEN s_fr = best AND best > 0 THEN 'fr'
            WHEN s_es = best AND best > 0 THEN 'es'
            ELSE 'unknown' END AS predicted_lang,
       best AS top_score
FROM b
"""

# corpus-level duplicate-line removal over synthesized line boundaries
# (plain-substring replace of ' table ' with \n, mirrored in the query);
# any line occurring more than once corpus-wide is dropped everywhere
LINE_DEDUP_SQL = """
WITH d AS (SELECT doc_id, replace(text, ' table ', chr(10)) AS text
           FROM documents),
lines AS (
  SELECT doc_id, generate_subscripts(parts, 1) - 1 AS idx,
         unnest(parts) AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM d)),
counts AS (SELECT line, count(*) AS cnt FROM lines GROUP BY line),
kept AS (SELECT l.doc_id, l.idx, l.line
         FROM lines l JOIN counts c USING (line) WHERE c.cnt <= 1),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id),
totals AS (SELECT doc_id, len(string_split(text, chr(10))) AS n_lines
           FROM d)
SELECT t.doc_id, coalesce(r.text, '') AS text,
       CAST(t.n_lines - coalesce(r.n_kept, 0) AS INTEGER) AS n_removed
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
"""

# corpus bigram-LM scoring (operators/lm.py): add-one smoothed
# p(b|a) = (c(a,b)+1)/(c(a)+V); per-bigram log-probs scaled to
# micro-unit integers so the per-doc sum is exact
LM_SCORE_SQL = """
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents),
pairs AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk)),
                i -> struct_pack(a := tk[i], b := tk[i+1]))) AS p
  FROM toked),
bg AS (SELECT doc_id, p.a AS a, p.b AS b FROM pairs),
uni AS (SELECT a, count(*) AS ca FROM bg GROUP BY a),
bic AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY a, b),
v AS (SELECT count(DISTINCT a) AS v FROM bg),
sc AS (
  SELECT bg.doc_id,
         CAST(round(ln((bic.cab + 1.0) / (uni.ca + v.v)) * 1000000.0)
              AS BIGINT) AS lp
  FROM bg JOIN bic USING (a, b) JOIN uni USING (a), v),
agg AS (
  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_bigrams,
         CAST(sum(lp) AS BIGINT) AS logprob_u6
  FROM sc GROUP BY doc_id)
SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
       CAST(coalesce(logprob_u6, 0) AS BIGINT) AS logprob_u6
FROM documents d LEFT JOIN agg USING (doc_id)
"""


def bpe_encode_sql(merges, src: str = "documents") -> str:
    """DuckDB replica of ``operators/bpe.bpe_encode`` for a FIXED merge
    list. Symbol arrays are encoded as wrapped strings
    (``␟sym␟␟sym␟…``, ␟ = chr(31)) so one plain-substring ``replace``
    per merge reproduces the greedy left-to-right fold exactly: the
    wrapper makes symbol boundaries explicit (no false matches inside
    multi-char symbols) and replace's resume-after-replacement scan
    matches the fold's no-reconsume property."""
    s = chr(31)
    expr = (
        f"'{s}' || array_to_string("
        f"list_append(regexp_split_to_array(w, ''), '</w>'), '{s}{s}') || '{s}'"
    )
    for left, right in merges:
        expr = f"replace({expr}, '{s}{left}{s}{s}{right}{s}', '{s}{left}{right}{s}')"
    word_tokens = f"replace(trim({expr}, '{s}'), '{s}{s}', ' ')"
    return f"""
WITH words AS (
  SELECT doc_id, generate_subscripts(ws, 1) AS wi, unnest(ws) AS w
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS ws
        FROM {src})),
enc AS (
  SELECT doc_id, wi, {word_tokens} AS wt FROM words WHERE w <> ''),
docs AS (
  SELECT doc_id, string_agg(wt, ' ' ORDER BY wi) AS tokens_str
  FROM enc GROUP BY doc_id)
SELECT doc_id, tokens_str,
       CAST(len(string_split(tokens_str, ' ')) AS INTEGER) AS n_tokens
FROM docs
"""



def bpe_stage_ctes(
    n_merges: int = 10, src: str = "documents", materialized: bool = False
) -> list[str]:
    """The BPE training trajectory as a CTE-stage list (v0 + per-round
    p/m/v chains) — shared by the train oracle and the learned-merge
    encode oracle (oracles_r9.bpe_token_counts_sql). ``materialized``
    marks every CTE AS MATERIALIZED: required when the m{k} winners
    are referenced TWICE (train chain + encode chain) — the wordpiece
    3^k-inlining lesson."""
    s31 = chr(31)
    mat = " MATERIALIZED" if materialized else ""
    stages = [
        f"""v0 AS{mat} (
  SELECT count(*)::BIGINT AS freq,
         '{s31}' || array_to_string(
             list_append(regexp_split_to_array(w, ''), '</w>'),
             '{s31}{s31}') || '{s31}' AS enc
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM {src})
  WHERE w <> '' GROUP BY w)"""
    ]
    for k in range(1, n_merges + 1):
        stages.append(f"""p{k} AS{mat} (
  SELECT pr.l, pr.r, sum(freq) AS n FROM (
    SELECT freq,
           unnest(list_transform(range(1, len(sy)),
                  i -> struct_pack(l := sy[i], r := sy[i + 1]))) AS pr
    FROM (SELECT freq, string_split(trim(enc, '{s31}'), '{s31}{s31}') AS sy
          FROM v{k - 1}))
  GROUP BY 1, 2),
m{k} AS{mat} (SELECT l, r FROM p{k} ORDER BY n DESC, l, r LIMIT 1),
v{k} AS{mat} (
  SELECT freq,
         replace(enc, '{s31}' || m.l || '{s31}{s31}' || m.r || '{s31}',
                 '{s31}' || m.l || m.r || '{s31}') AS enc
  FROM v{k - 1} CROSS JOIN m{k} m)""")
    return stages


def bpe_train_sql(n_merges: int = 10, src: str = "documents") -> str:
    """DuckDB replica of ``operators/bpe.bpe_train``: the whole
    training TRAJECTORY unrolled — per round, adjacent-pair counts
    over the evolving wrapped-symbol dictionary (weighted by word
    frequency, overlapping pairs counted per position), the 1-row
    argmax (count DESC, pair ASC) threaded into the next round's
    ``replace`` via CROSS JOIN. No literals are data-dependent: the
    learned merges are themselves CTE values, so the statement checks
    the full argmax trajectory, not a replayed answer."""
    stages = bpe_stage_ctes(n_merges)
    finals = " UNION ALL ".join(
        f'SELECT {k} AS step, l AS "left", r AS "right" FROM m{k}'
        for k in range(1, n_merges + 1)
    )
    return (
        "WITH "
        + ",\n".join(stages)
        + '\nSELECT CAST(step AS INTEGER) AS step, "left", "right"'
        + f" FROM ({finals})"
    )

LANG_ID_TWO_WAYS_SQL = f"""
SELECT m.doc_id, m.predicted_lang AS marker_lang,
       n.predicted_lang, n.top_score
FROM ({LANG_ID_SQL}) m JOIN ({LANG_ID_NGRAM_SQL}) n USING (doc_id)
"""

# composed draw: 25% sample on the unsalted hash, 80/10/10 split of the
# sample under salt 'split' (same-salt composition would be degenerate —
# every sampled row's prefix is already < t_train)
HASH_SAMPLE_SPLIT_SQL = """
SELECT doc_id, lang, source, n_chars,
       CASE WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < '{t_train}' THEN 'train'
            WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < '{t_val}' THEN 'val'
            ELSE 'test' END AS split
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{t}'
"""

PACK_SEQUENCES_SQL = """
WITH tok AS (
  SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS shard,
         CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ROWS UNBOUNDED PRECEDING) AS cum
  FROM tok)
SELECT doc_id, shard,
       CAST(floor((cum - n_tokens) / 512) AS INTEGER) AS bin_id,
       CAST((cum - n_tokens) % 512 AS INTEGER) AS bin_offset,
       n_tokens
FROM c
"""

# --------------------------------------------------------------------------
# dedup cluster resolution / corpus hygiene / curation pipeline
# --------------------------------------------------------------------------


def _sh_over(src: str, n: int = 3, cte: str = "sh") -> str:
    """Word n-gram shingle CTE over an arbitrary (doc_id, text) source —
    the parameterized form of ``_SHINGLES`` (same output for n=3,
    src='documents')."""
    parts = " || ' ' || ".join(f"toks[i+{k}]" for k in range(n))
    return f"""
{cte} AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - {n - 2}),
                  i -> {parts})) AS shingle
    FROM (SELECT doc_id, {_TOKS} AS toks FROM {src})
    WHERE len(toks) >= {n}))
"""


# jaccard-verified pairs (>= 0.5) over the `sh`/`pairs` CTEs
_VPAIRS = """
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS n_inter
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2),
vp AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes za ON za.doc_id = i.id_a
  JOIN sizes zb ON zb.doc_id = i.id_b
  WHERE round(i.n_inter / (za.n_sh + zb.n_sh - i.n_inter), 4) >= 0.5)
"""

# connected components over the `vp` pair CTE: transitive closure (the
# corpus-side components are tiny near-cliques, so the closure is small)
# then component id = min over {self} ∪ reachable
_CCOMP = """
edges AS (SELECT id_a AS src, id_b AS dst FROM vp
          UNION ALL SELECT id_b, id_a FROM vp),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
comp AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
         FROM reach GROUP BY src)
"""

# semantic dedup: IVF-cluster-blocked cosine pairs (same prelude as
# IVF_NEAR_DUPS_SQL) resolved to connected components → keep manifest
SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE {_NRM},
cen AS (SELECT vec_id AS centroid_id, v AS cv, n AS cn FROM nrm WHERE vec_id < 16),
asg AS (
  SELECT vec_id, v, n, centroid_id AS cluster FROM (
    SELECT e.vec_id, e.v, e.n, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_inner_product(e.v, c.cv) / (e.n * c.cn), 6) DESC,
                        c.centroid_id) AS rn
    FROM nrm e CROSS JOIN cen c)
  WHERE rn = 1),
vp AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(list_inner_product(a.v, b.v) / (a.n * b.n), 6) >= 0.4),
{_CCOMP}
SELECT e.vec_id,
       coalesce(c.cluster_id, e.vec_id) AS cluster_id,
       CAST(CASE WHEN coalesce(c.cluster_id, e.vec_id) = e.vec_id
                 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
"""

DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS}, {_VPAIRS}, {_CCOMP}
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       CAST(CASE WHEN coalesce(c.cluster_id, d.doc_id) = d.doc_id
                 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
"""

# leak-proof split (operators/sampling.py:hash_split keyed on the dedup
# cluster label): every member of a near-dup cluster lands in the SAME
# split -- the leakage-safe assignment a pretraining pipeline needs when
# it keeps duplicates (weighting) instead of dropping them. Same
# connected components as DEDUP_CLUSTERS_SQL; thresholds are
# hex_threshold() literals supplied at lookup time.
CLUSTER_SAFE_SPLIT_SQL = f"""
WITH RECURSIVE {_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS}, {_VPAIRS}, {_CCOMP}
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       CASE WHEN substring(md5('split' ||
                 CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 8)
                 < '{{t_train}}' THEN 'train'
            WHEN substring(md5('split' ||
                 CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 8)
                 < '{{t_val}}' THEN 'val'
            ELSE 'test' END AS split
FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
"""

# hard-negative mining (r8): per anchor, top-5 most-similar vectors
# OUTSIDE its semantic near-dup cluster — SEMANTIC_DEDUP's IVF-blocked
# components exclude the positives, COSINE_TOPK's rounded ranking
# orders the survivors.
HARD_NEGATIVE_MINE_SQL = f"""
WITH RECURSIVE {_NRM},
cen AS (SELECT vec_id AS centroid_id, v AS cv, n AS cn
        FROM nrm WHERE vec_id < 16),
asg AS (
  SELECT vec_id, v, n, centroid_id AS cluster FROM (
    SELECT e.vec_id, e.v, e.n, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_inner_product(e.v, c.cv) / (e.n * c.cn), 6)
                        DESC, c.centroid_id) AS rn
    FROM nrm e CROSS JOIN cen c)
  WHERE rn = 1),
vp AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(list_inner_product(a.v, b.v) / (a.n * b.n), 6) >= 0.4),
{_CCOMP},
lab AS (SELECT e.vec_id, coalesce(c.cluster_id, e.vec_id) AS cl
        FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id),
sims AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round(list_inner_product(q.v, n.v) / (q.n * n.n), 6) AS cosine
  FROM nrm q JOIN nrm n ON n.vec_id <> q.vec_id
  WHERE q.vec_id < 10),
neg AS (
  SELECT s.query_id, s.neighbor_id, s.cosine,
         row_number() OVER (PARTITION BY s.query_id
             ORDER BY s.cosine DESC, s.neighbor_id) AS rnk
  FROM sims s
  JOIN lab lq ON lq.vec_id = s.query_id
  JOIN lab ln ON ln.vec_id = s.neighbor_id
  WHERE lq.cl <> ln.cl)
SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS neg_rank, cosine
FROM neg WHERE rnk <= 5
"""

# keep-one-with-weight dedup (r8): cluster reps with multiplicity and
# token mass — same components as DEDUP_CLUSTERS_SQL.
DEDUP_WEIGHT_KEEP_SQL = f"""
WITH RECURSIVE {_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS}, {_VPAIRS}, {_CCOMP},
lab AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         len({_TOKS}) AS nt
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
SELECT cluster_id, min(doc_id) AS rep_doc_id,
       CAST(count(*) AS BIGINT) AS weight,
       CAST(sum(nt) AS BIGINT) AS token_mass
FROM lab GROUP BY 1
"""

# repeat-capped dedup (r8): keep at most K=2 per near-dup cluster by
# deterministic md5 order — same components as DEDUP_CLUSTERS_SQL.
CLUSTER_CAP_SAMPLE_SQL = f"""
WITH RECURSIVE {_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS}, {_VPAIRS}, {_CCOMP},
lab AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
SELECT doc_id, cluster_id, CAST(rn AS INTEGER) AS kept_rank
FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
          ORDER BY md5('cap' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM lab)
WHERE rn <= 2
"""

# observed threshold sweep (operators/dedup.py:
# jaccard_threshold_sweep): exact-jaccard deciles over the LSH
# candidate set (zero-intersection false positives kept in band 0),
# cumulative at-or-above on the 11-row spine. DuckDB widens a BIGINT
# window sum to HUGEINT; the sum is at most the candidate-pair count,
# itself a BIGINT count, so the cast back is exact.
DEDUP_THRESHOLD_SWEEP_SQL = f"""
WITH {_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS},
sw_z AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
sw_i AS (
  SELECT p.id_a, p.id_b, count(*) AS n_inter
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2),
sw_b AS (
  SELECT CAST((1000000 * coalesce(i.n_inter, 0))
              // (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0))
              // 100000 AS INTEGER) AS band
  FROM pairs p
  LEFT JOIN sw_i i ON i.id_a = p.id_a AND i.id_b = p.id_b
  JOIN sw_z za ON za.doc_id = p.id_a
  JOIN sw_z zb ON zb.doc_id = p.id_b),
sw_c AS (SELECT band, count(*)::BIGINT AS n_pairs FROM sw_b GROUP BY 1),
sw_s AS (
  SELECT CAST(g.g AS INTEGER) AS band,
         coalesce(c.n_pairs, 0) AS n_pairs
  FROM (SELECT unnest(generate_series(0, 10)) AS g) g
  LEFT JOIN sw_c c ON c.band = g.g)
SELECT band, n_pairs,
       (sum(n_pairs) OVER (ORDER BY band DESC
                           ROWS UNBOUNDED PRECEDING))::BIGINT
         AS pairs_at_or_above
FROM sw_s
"""

# leakage-safe k-fold (GroupKFold over near-dup clusters,
# operators/sampling.py:group_kfold): fold = md5 mod k on the cluster
# label — same components as DEDUP_CLUSTERS_SQL, fold-grain rollup
# with membership checksum.
GROUP_KFOLD_SQL = f"""
WITH RECURSIVE {_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS}, {_VPAIRS}, {_CCOMP},
gkf AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         CAST(('0x' || substring(md5('gkf' ||
              CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 8)
              )::BIGINT % 5 AS INTEGER) AS fold
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
SELECT fold, count(*)::BIGINT AS n_docs,
       count(DISTINCT cluster_id)::BIGINT AS n_clusters,
       sum(doc_id)::BIGINT AS key_sum
FROM gkf GROUP BY 1
"""

# split-leakage audit (r8): near-dup pairs tagged with endpoint split
# assignments under naive doc-keyed vs cluster-keyed hashing — same
# components and hash literals as CLUSTER_SAFE_SPLIT_SQL.
SPLIT_LEAKAGE_AUDIT_SQL = f"""
WITH RECURSIVE {_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS}, {_VPAIRS}, {_CCOMP},
lab AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
sp AS (
  SELECT doc_id,
         CASE WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
                   < '{{t_train}}' THEN 'train'
              WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
                   < '{{t_val}}' THEN 'val'
              ELSE 'test' END AS s_doc,
         CASE WHEN substring(md5('split' ||
                   CAST(cluster_id AS VARCHAR)), 1, 8)
                   < '{{t_train}}' THEN 'train'
              WHEN substring(md5('split' ||
                   CAST(cluster_id AS VARCHAR)), 1, 8)
                   < '{{t_val}}' THEN 'val'
              ELSE 'test' END AS s_cluster
  FROM lab),
tagged AS (
  SELECT 'by_doc' AS policy, a.s_doc AS sa, b.s_doc AS sb
  FROM vp JOIN sp a ON a.doc_id = vp.id_a JOIN sp b ON b.doc_id = vp.id_b
  UNION ALL
  SELECT 'by_cluster', a.s_cluster, b.s_cluster
  FROM vp JOIN sp a ON a.doc_id = vp.id_a JOIN sp b ON b.doc_id = vp.id_b)
SELECT policy, least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM tagged GROUP BY 1, 2, 3
"""

# decontamination: benchmark = doc_id % 50 = 0, corpus = the rest, 5-gram
# overlap. Calibration (sf0.01): trigrams flag 257/490 corpus docs (pure
# chance collisions on a ~30-word vocabulary), 5-grams flag exactly the
# one true near-duplicate of a benchmark doc — hence n=5 here.
DECONTAM_SQL = f"""
WITH {_sh_over('documents', n=5, cte='sh5')},
bench AS (SELECT DISTINCT shingle FROM sh5 WHERE doc_id % 50 = 0),
ov AS (
  SELECT s.doc_id, count(*) AS n_overlap
  FROM sh5 s JOIN bench USING (shingle)
  WHERE s.doc_id % 50 != 0
  GROUP BY 1)
SELECT d.doc_id,
       coalesce(o.n_overlap, 0) AS n_overlap,
       CAST(CASE WHEN coalesce(o.n_overlap, 0) > 0 THEN 1 ELSE 0 END
            AS INTEGER) AS contaminated
FROM documents d LEFT JOIN ov o USING (doc_id)
WHERE d.doc_id % 50 != 0
"""

# PII redaction: the corpus itself carries no PII, so the query plants a
# deterministic synthetic email/phone/IP per row (derived from doc_id on
# BOTH engines) and the hash check verifies the actual redaction output.
_PII_AUG = (
    "text || ' contact user' || doc_id || '@example.com or +886 912 345 6'"
    " || doc_id || ' ip 10.0.' || (doc_id % 256) || '.17'"
)
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IPV4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PII_PHONE = "\\+?\\d[\\d\\- ]{7,}\\d"

REDACT_PII_SQL = f"""
WITH aug AS (SELECT doc_id, {_PII_AUG} AS t FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}'))
            + len(regexp_extract_all(t, '{_PII_IPV4}'))
            + len(regexp_extract_all(t, '{_PII_PHONE}')) AS INTEGER)
           AS n_redactions,
       regexp_replace(
           regexp_replace(
               regexp_replace(t, '{_PII_EMAIL}', '[EMAIL]', 'g'),
               '{_PII_IPV4}', '[IP]', 'g'),
           '{_PII_PHONE}', '[PHONE]', 'g') AS redacted
FROM aug
"""

# the full curation pipeline: quality gate -> exact dedup -> LSH/Jaccard
# near-dup clusters -> canonical keep -> deterministic split. `{t_train}`
# and `{t_val}` are hex_threshold() literals supplied at lookup time.
CURATION_PIPELINE_SQL = f"""
WITH RECURSIVE qbase AS (
  SELECT doc_id, {_TOKS} AS toks,
         length(regexp_replace(text, '\\s', '', 'g')) AS no_ws
  FROM documents),
qb AS (SELECT doc_id, toks, no_ws, {_BIGRAMS} AS bg FROM qbase),
qm AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_words,
         round(no_ws / len(toks), 4) AS avg_word_len,
         round((len(toks) - len(list_distinct(toks))) / len(toks), 4)
             AS dup_word_frac,
         CASE WHEN len(bg) > 0
              THEN round(list_max(list_transform(list_distinct(bg),
                       d -> len(list_filter(bg, x -> x = d)))) / len(bg), 4)
              ELSE 0.0 END AS top_bigram_frac
  FROM qb),
gate AS (
  SELECT doc_id FROM qm
  WHERE n_words >= 40 AND n_words <= 100000
    AND avg_word_len >= 3.0 AND avg_word_len <= 10.0
    AND dup_word_frac <= 0.6 AND top_bigram_frac <= 0.05),
pd AS (SELECT d.doc_id, d.text FROM documents d JOIN gate USING (doc_id)),
ex AS (SELECT min(doc_id) AS doc_id FROM pd GROUP BY md5(text)),
ed AS (SELECT p.doc_id, p.text FROM pd p JOIN ex USING (doc_id)),
{_sh_over('ed')}, {_SIG}, {_BANDS}, {_PAIRS}, {_VPAIRS}, {_CCOMP},
keepers AS (
  SELECT ed.doc_id FROM ed LEFT JOIN comp c ON c.id = ed.doc_id
  WHERE coalesce(c.cluster_id, ed.doc_id) = ed.doc_id)
SELECT doc_id,
       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{{t_train}}'
                THEN 'train'
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{{t_val}}'
                THEN 'val'
            ELSE 'test' END AS split
FROM keepers
"""

VOCAB_TOP_TOKENS_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents),
c AS (
  SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
  FROM toks WHERE token <> '' GROUP BY token)
SELECT token, n_occurrences, n_docs
FROM c
ORDER BY n_occurrences DESC, token
LIMIT 100
"""

STRATIFIED_SAMPLE_SQL = """
SELECT doc_id, lang
FROM (SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
             ) AS rk
      FROM documents)
WHERE rk <= 20
"""

CHUNK_DOCUMENTS_SQL = """
WITH n AS (
  SELECT doc_id, text,
         greatest(1, CAST(ceil((length(text) - 64) / 192.0) AS INTEGER))
             AS n_chunks
  FROM documents),
e AS (
  SELECT doc_id, text, unnest(generate_series(0, n_chunks - 1)) AS i
  FROM n)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_id,
       CAST(i * 192 AS INTEGER) AS chunk_start,
       substring(text, CAST(i * 192 + 1 AS INTEGER), 256) AS chunk_text
FROM e
"""


# --------------------------------------------------------------------------
# simhash Hamming pairs: the banded Spark plan is EXACT for
# max_hamming < bands (pigeonhole), so the oracle runs the equivalent
# brute-force all-pairs popcount over the same 32-bit signatures and
# aggregates to the same distance histogram.
# --------------------------------------------------------------------------
_SIMHASH32_VOTES = ", ".join(
    "sum(CASE WHEN ((instr('0123456789abcdef', substr(h, {k}, 1)) - 1) >> {m}) & 1 = 1 "
    "THEN 1 ELSE -1 END) AS v_{j}".format(k=j // 4 + 1, m=j % 4, j=j)
    for j in range(32)
)
_SIMHASH32_SIG = " + ".join(
    f"CASE WHEN v_{j} > 0 THEN {2**j} ELSE 0 END" for j in range(32)
)

SIMHASH_HAMMING_HIST_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok FROM documents),
h AS (SELECT doc_id, md5(tok) AS h FROM toks),
votes AS (SELECT doc_id, {_SIMHASH32_VOTES} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({_SIMHASH32_SIG} AS BIGINT) AS simhash FROM votes)
SELECT CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming,
       count(*) AS n_pairs
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
GROUP BY 1
"""


# --------------------------------------------------------------------------
# deterministic random projections (operators/rp.py): the ±1 plane
# matrix is md5-derived from (salt, plane, dim-pos), so the oracle
# re-derives the identical matrix; projections are micro-unit integer
# dot products — bit-exact cross-engine.
# --------------------------------------------------------------------------
_RP_PLANES, _RP_DIM, _RP_BANDS = 16, 64, 4

_RP_BASE = f"""
e AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 1000000) AS BIGINT)) AS v
  FROM embeddings),
w AS (
  SELECT p.p, d.d,
         CASE WHEN (instr('0123456789abcdef',
                    substr(md5('rp_' || p.p || '_' || d.d), 1, 1)) - 1) % 2 = 0
              THEN 1 ELSE -1 END AS w
  FROM (SELECT unnest(generate_series(0, {_RP_PLANES - 1})) AS p) p,
       (SELECT unnest(generate_series(0, {_RP_DIM - 1})) AS d) d),
ex AS (
  SELECT vec_id, d.d AS d, v[d.d + 1] AS val
  FROM e, (SELECT unnest(generate_series(0, {_RP_DIM - 1})) AS d) d),
proj AS (
  SELECT vec_id, p, sum(val * w) AS s
  FROM ex JOIN w USING (d) GROUP BY vec_id, p)
"""

_RP_PIVOT = ", ".join(
    f"CAST(sum(CASE WHEN p = {p} THEN s END) AS BIGINT) AS p_{p}"
    for p in range(_RP_PLANES)
)

RANDOM_PROJECT_SQL = f"""
WITH {_RP_BASE}
SELECT vec_id, {_RP_PIVOT} FROM proj GROUP BY vec_id
"""

_RP_R = _RP_PLANES // _RP_BANDS
_RP_SHARE_BAND = " OR ".join(
    f"((a.srp >> {b * _RP_R}) & {(1 << _RP_R) - 1}) = "
    f"((b.srp >> {b * _RP_R}) & {(1 << _RP_R) - 1})"
    for b in range(_RP_BANDS)
)

SRP_NEAR_DUPS_SQL = f"""
WITH {_RP_BASE},
sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << p) ELSE 0 END)
              AS BIGINT) AS srp
  FROM proj GROUP BY vec_id),
n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS nv,
         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nn
  FROM embeddings),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sig a JOIN sig b ON a.vec_id < b.vec_id
  WHERE {_RP_SHARE_BAND})
SELECT c.id_a, c.id_b,
       round(list_inner_product(na.nv, nb.nv) / (na.nn * nb.nn), 6) AS cosine
FROM cand c
JOIN n na ON na.vec_id = c.id_a
JOIN n nb ON nb.vec_id = c.id_b
WHERE round(list_inner_product(na.nv, nb.nv) / (na.nn * nb.nn), 6) >= 0.4
"""


# --------------------------------------------------------------------------
# Integer perceptron training (operators/perceptron.py): 3 full-batch
# epochs unrolled — w_{e+1}[b] = w_e[b] + sum_docs (y - 1[w_e.x > 0]).x[b],
# all integers, labels y = (lang = 'en'). Epoch 1 starts from w = 0 so
# its update is the positive-class count vector; every occupied bucket
# appears from epoch 1 on, so later epochs join on equal key sets.
# --------------------------------------------------------------------------
_PERC_BUCKET = (
    "CAST(('0x' || substring(md5(tok), 1, 8))::BIGINT % 64 AS INTEGER)"
)

_PERC_EPOCH = """
s{e} AS (SELECT c.doc_id, sum(w{p}.w * c.c) AS s
       FROM cnt c JOIN w{p} USING (bucket) GROUP BY 1),
e{e} AS (SELECT l.doc_id,
             l.y - CASE WHEN coalesce(s.s, 0) > 0 THEN 1 ELSE 0 END AS e
       FROM lab l LEFT JOIN s{e} s USING (doc_id)),
w{e} AS (SELECT w{p}.bucket, w{p}.w + d.dw AS w
       FROM w{p} JOIN (SELECT c.bucket, sum(e{e}.e * c.c) AS dw
                       FROM cnt c JOIN e{e} USING (doc_id)
                       GROUP BY 1) d USING (bucket))
"""

_PERC_PRELUDE = (
    f"""toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
tb AS (SELECT doc_id, {_PERC_BUCKET} AS bucket FROM toks),
cnt AS (SELECT doc_id, bucket, count(*)::BIGINT AS c FROM tb GROUP BY 1, 2),
lab AS (SELECT doc_id,
               CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
        FROM documents),
w1 AS (SELECT c.bucket, sum(l.y * c.c) AS w
       FROM cnt c JOIN lab l USING (doc_id) GROUP BY 1),"""
    + _PERC_EPOCH.format(e=2, p=1)
    + ","
    + _PERC_EPOCH.format(e=3, p=2)
)

PERCEPTRON_WEIGHTS_SQL = (
    "WITH "
    + _PERC_PRELUDE
    + """
SELECT bucket, CAST(w AS BIGINT) AS w FROM w3
"""
)

# Averaged perceptron: per bucket, the integer SUM of the post-epoch
# snapshots w1+w2+w3 (the unnormalized epoch average — dividing by the
# fixed epoch count changes no comparison and would leave the
# integers). w1's key set is every occupied bucket and each later
# epoch's delta aggregates over the same cnt table, so the three CTEs
# join on identical key sets.
AVERAGED_PERCEPTRON_SQL = (
    "WITH "
    + _PERC_PRELUDE
    + """
SELECT w1.bucket, CAST(w1.w + w2.w + w3.w AS BIGINT) AS w_avg
FROM w1 JOIN w2 USING (bucket) JOIN w3 USING (bucket)
"""
)

# train -> apply composed in one statement: the trained epoch-3 weights
# score EVERY document and the gate keeps score > 0 (strict, ties drop
# -- same tie rule the training trajectory uses).
LEARNED_QUALITY_FILTER_SQL = (
    "WITH "
    + _PERC_PRELUDE
    + """,
sc AS (SELECT c.doc_id, sum(w3.w * c.c) AS score
       FROM cnt c JOIN w3 USING (bucket) GROUP BY 1)
SELECT d.doc_id, CAST(coalesce(sc.score, 0) AS BIGINT) AS score,
       CAST(CASE WHEN coalesce(sc.score, 0) > 0 THEN 1 ELSE 0 END
            AS INTEGER) AS kept
FROM documents d LEFT JOIN sc USING (doc_id)
"""
)

# --------------------------------------------------------------------------
# DSIR importance scores (operators/dsir.py): hashed-token buckets via
# ('0x'||md5[:8])::BIGINT % B (== Spark conv(substring(md5,1,8),16,10)
# % B), Laplace-smoothed micro-unit integer ratios, integer doc sums.
# Target distribution = the English slice.
# --------------------------------------------------------------------------
_DSIR_B = 1024
_DSIR_BUCKET = (
    f"CAST(('0x' || substring(md5(tok), 1, 8))::BIGINT % {_DSIR_B} AS INTEGER)"
)

DSIR_SCORES_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
tb AS (SELECT doc_id, {_DSIR_BUCKET} AS bucket FROM toks),
rc AS (SELECT bucket, count(*) AS c_r FROM tb GROUP BY bucket),
ttoks AS (
  SELECT unnest({_TOKS}) AS tok FROM documents WHERE lang = 'en'),
tc AS (
  SELECT {_DSIR_BUCKET} AS bucket, count(*) AS c_t
  FROM ttoks GROUP BY 1),
w AS (
  SELECT rc.bucket,
         CAST(((coalesce(c_t, 0) + 1) * 1000000) // (c_r + 1) AS BIGINT) AS w
  FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket)
SELECT doc_id, CAST(sum(w) AS BIGINT) AS dsir_score
FROM tb JOIN w USING (bucket)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# CCNet-style perplexity terciles (operators/ranking.py): ntile(3) over
# the average per-bigram log-prob. The Spark side computes the SAME
# buckets with a distributed two-phase global rank (range partition +
# per-partition offsets) instead of a single-partition window; the
# ordering key is an IEEE double quotient of two integers — deterministic
# cross-engine — with the doc id as total-order tie-break.
# --------------------------------------------------------------------------
LM_TERCILES_SQL = f"""
WITH s AS ({LM_SCORE_SQL})
SELECT doc_id,
       CAST(ntile(3) OVER (
            ORDER BY CAST(logprob_u6 AS DOUBLE) / greatest(n_bigrams, 1) DESC,
                     doc_id) AS INTEGER) AS bucket
FROM s
"""


# --------------------------------------------------------------------------
# mergeable histogram quantiles (operators/quantiles.py): integer
# centi-unit bins (floor of an IEEE product — bit-identical), integer
# ceil(q·N) thresholds, lower-edge-of-first-reaching-bin semantics.
# --------------------------------------------------------------------------
EVENT_VALUE_QSKETCH_SQL = """
WITH hist AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS bin,
         count(*) AS n
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT event_type, bin,
         sum(n) OVER (PARTITION BY event_type ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS _cum,
         sum(n) OVER (PARTITION BY event_type) AS _N
  FROM hist),
qs(q, num, den) AS (VALUES ('p50', 1, 2), ('p95', 19, 20), ('p99', 99, 100))
SELECT event_type, q, CAST(min(bin) AS BIGINT) AS bin
FROM cum, qs
WHERE _cum >= (_N * num + den - 1) // den
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# collocations / domain divergence (operators/collocations.py): exact
# integer counts -> ONE deterministic double ln-expression per row ->
# micro/nano-unit integer, then aggregation-order-exact bigint sums
# (the lm_score portability rule).

PMI_COLLOCATIONS_SQL = """
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents),
pairs AS (
  SELECT unnest(list_transform(range(1, len(tk)),
                i -> struct_pack(a := tk[i], b := tk[i+1]))) AS p
  FROM toked),
bg AS (SELECT p.a AS a, p.b AS b FROM pairs),
big AS (SELECT a, b, count(*) AS pair_count
        FROM bg GROUP BY a, b HAVING count(*) >= 5),
ua AS (SELECT a, count(*) AS ca FROM bg GROUP BY a),
ub AS (SELECT b, count(*) AS cb FROM bg GROUP BY b),
n AS (SELECT count(*) AS n FROM bg)
SELECT a, b, pair_count,
       CAST(round(ln((CAST(pair_count AS DOUBLE) * CAST(n AS DOUBLE))
                     / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))
                  * 1000000.0) AS BIGINT) AS pmi_u6
FROM big JOIN ua USING (a) JOIN ub USING (b), n
ORDER BY pmi_u6 DESC, a, b
LIMIT 40
"""

DOMAIN_KL_SQL = """
WITH toks AS (
  SELECT source AS domain,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents),
dt AS (SELECT domain, tok, count(*) AS cdt FROM toks GROUP BY 1, 2),
ct AS (SELECT tok, count(*) AS ct FROM toks GROUP BY 1),
td AS (SELECT domain, count(*) AS td FROM toks GROUP BY 1),
tot AS (SELECT count(*) AS t, count(DISTINCT tok) AS v FROM toks)
SELECT domain,
       count(*) AS n_terms,
       CAST(sum(CAST(round(((cdt + 1.0) / (td + v))
                           * ln(((cdt + 1.0) / (td + v))
                                / ((ct + 1.0) / (t + v)))
                           * 1000000000.0) AS BIGINT)) AS BIGINT) AS kl_u9
FROM dt JOIN ct USING (tok) JOIN td USING (domain), tot
GROUP BY domain
"""


# --------------------------------------------------------------------------
# fuzzy record linkage (operators/fuzzy.py): two-pass blocking (prefix
# + reverse-prefix), Levenshtein verify on candidates only, top-1 per
# probe with (dist, id) deterministic tie-break.

FUZZY_KEY_RECOVERY_SQL = """
WITH parts AS (SELECT p_partkey, lower(p_name) AS t FROM part),
probes AS (
  SELECT p_partkey AS qid,
         substr(t, 1, 2) || substr(t, 4, 1000000) AS qt
  FROM parts),
lk AS (
  SELECT p_partkey, t,
         unnest(['p:' || substr(t, 1, 4),
                 's:' || substr(reverse(t), 1, 4)]) AS bk
  FROM parts),
rk AS (
  SELECT qid, qt,
         unnest(['p:' || substr(qt, 1, 4),
                 's:' || substr(reverse(qt), 1, 4)]) AS bk
  FROM probes),
cand AS (SELECT DISTINCT p_partkey, qid, t, qt FROM lk JOIN rk USING (bk)
         WHERE abs(length(t) - length(qt)) <= 2),
m AS (
  SELECT qid, p_partkey, levenshtein(t, qt) AS dist
  FROM cand
  WHERE levenshtein(t, qt) <= 2)
SELECT qid, p_partkey, dist
FROM (SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY dist, p_partkey) AS rn FROM m)
WHERE rn = 1
"""


# --------------------------------------------------------------------------
# integer PageRank (operators/graph.py): micro-unit bigint ranks,
# contrib = r DIV outdeg, damping product in HUGEINT -- the 3-sweep
# trajectory unrolled (one CTE per iteration). All quantities are
# nonnegative, so Spark's truncating DIV == DuckDB's flooring //.

_PR_STEP = """
  SELECT e.dst AS node,
         CAST(150000 + (850000::HUGEINT * sum(r.r // e.d)) // 1000000
              AS BIGINT) AS r
  FROM ed e JOIN {prev} r ON e.src = r.node
  GROUP BY e.dst
"""

COPURCHASE_PAGERANK_SQL = (
    """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
ed AS (SELECT e.src, e.dst, deg.d FROM edges e JOIN deg ON deg.src = e.src),
r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
it1 AS ("""
    + _PR_STEP.format(prev="r0")
    + """),
it2 AS ("""
    + _PR_STEP.format(prev="it1")
    + """),
it3 AS ("""
    + _PR_STEP.format(prev="it2")
    + """)
SELECT node AS part, r AS rank_u6
FROM it3
ORDER BY rank_u6 DESC, node
LIMIT 50
"""
)

# seeded / topic-sensitive PageRank (operators/graph.py:
# personalized_pagerank): teleport mass restricted to Brand#11 parts,
# same micro-unit integer trajectory as COPURCHASE_PAGERANK_SQL, 3
# sweeps unrolled; every sweep re-joins the full node frame so
# contribution-less nodes decay exactly (coalesce 0).

_PPR_STEP = """
  SELECT n.node, n.seed,
         CAST(150000 * n.seed
              + (850000::HUGEINT * coalesce(c.s, 0)) // 1000000
              AS BIGINT) AS r
  FROM nodes n
  LEFT JOIN (SELECT e.dst AS node, sum(r.r // e.d) AS s
             FROM ed e JOIN {prev} r ON e.src = r.node
             GROUP BY 1) c ON c.node = n.node
"""

BRAND_SEEDED_PPR_SQL = (
    """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
ed AS (SELECT e.src, e.dst, deg.d FROM edges e JOIN deg ON deg.src = e.src),
nodes AS (
  SELECT g.node,
         CAST(CASE WHEN p.p_partkey IS NOT NULL THEN 1 ELSE 0 END
              AS BIGINT) AS seed
  FROM (SELECT src AS node FROM deg) g
  LEFT JOIN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#11') p
    ON p.p_partkey = g.node),
r0 AS (SELECT node, seed, CAST(seed * 1000000 AS BIGINT) AS r FROM nodes),
it1 AS ("""
    + _PPR_STEP.format(prev="r0")
    + """),
it2 AS ("""
    + _PPR_STEP.format(prev="it1")
    + """),
it3 AS ("""
    + _PPR_STEP.format(prev="it2")
    + """)
SELECT node AS part, r AS ppr_u6
FROM it3
ORDER BY ppr_u6 DESC, node
LIMIT 50
"""
)

# --------------------------------------------------------------------------
# SQ8 scalar quantization (operators/sq.py): per-dimension micro-unit
# (lo, span) stats, code = clamp(floor((x-lo)*255/span)); asymmetric
# search reconstructs r = lo + floor(code*span/255) and ranks by exact
# integer squared L2. All divisions are IEEE double over integers
# < 2^53 then floored — engine-portable.
# --------------------------------------------------------------------------

_SQ8_PRELUDE = """
q6 AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
              x -> CAST(round(x * 1000000.0) AS BIGINT)) AS v
       FROM embeddings),
stats AS (SELECT g.d AS dim, min(v[g.d + 1]) AS lo,
                 greatest(max(v[g.d + 1]) - min(v[g.d + 1]), 1) AS span
          FROM q6, generate_series(0, 63) g(d) GROUP BY 1)
"""

SQ8_CODES_SQL = f"""
WITH {_SQ8_PRELUDE}
SELECT q.vec_id, CAST(s.dim AS INTEGER) AS dim,
       CAST(least(255, greatest(0,
            floor((q.v[s.dim + 1] - s.lo) * 255 / s.span))) AS INTEGER) AS code
FROM q6 q, stats s
"""

SQ8_TOPK_SQL = f"""
WITH {_SQ8_PRELUDE},
enc AS (
  SELECT q.vec_id, s.dim, s.lo, s.span,
         least(255, greatest(0,
              floor((q.v[s.dim + 1] - s.lo) * 255 / s.span))) AS code
  FROM q6 q, stats s),
recon AS (
  SELECT vec_id, dim,
         lo + CAST(floor(code * span / 255) AS BIGINT) AS r
  FROM enc),
qq AS (SELECT vec_id AS query_id, v FROM q6 WHERE vec_id < 10),
d AS (
  SELECT qq.query_id, r.vec_id AS neighbor_id,
         sum((qq.v[r.dim + 1] - r.r) * (qq.v[r.dim + 1] - r.r)) AS d2
  FROM qq, recon r WHERE r.vec_id <> qq.query_id
  GROUP BY 1, 2)
SELECT query_id, neighbor_id, CAST(d2 AS BIGINT) AS d2_u
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY d2, neighbor_id) AS rn FROM d)
WHERE rn <= 5
"""

# --------------------------------------------------------------------------
# shingle containment (operators/dedup.py:containment_verify_profiles)
# over a corpus augmented with 80%-prefix copies (doc_id + 100000 of
# every 25th doc) — the asymmetric near-dup case symmetric Jaccard
# understates. Same shingle/minhash/band prelude, FROM the augmented
# frame.
# --------------------------------------------------------------------------

_AUG_DOCS = """
aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         substring(text, 1, CAST(floor(length(text) * 0.8) AS INTEGER)) AS text
  FROM documents WHERE doc_id % 25 = 0)
"""

_AUG_SHINGLES = f"""
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
    FROM (SELECT doc_id, {_TOKS} AS toks FROM aug)
    WHERE len(toks) >= 3))
"""

CONTAINMENT_DUPS_SQL = f"""
WITH {_AUG_DOCS}, {_AUG_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS n_inter
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2)
SELECT i.id_a, i.id_b,
       round(i.n_inter / least(za.n_sh, zb.n_sh), 4) AS containment,
       round(i.n_inter / (za.n_sh + zb.n_sh - i.n_inter), 4) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE round(i.n_inter / least(za.n_sh, zb.n_sh), 4) >= 0.8
"""

# --------------------------------------------------------------------------
# multimodal decode from raw bytes (multimodal/binary_ops.py:
# decode_images over synth_pgm_payloads): the oracle recomputes each
# synthetic PGM's pixel sum analytically from the closed form
# pixel(i,j) = (3*id + 5*i + 7*j) mod 251, w = 4 + id%13, h = 4 + id%11;
# every 29th id is a corrupt payload -> error containment row.
# --------------------------------------------------------------------------

IMAGE_DECODE_STATS_SQL = """
WITH ids AS (SELECT p_partkey AS media_id FROM part WHERE p_partkey <= 60),
dims AS (SELECT media_id, 4 + media_id % 13 AS w, 4 + media_id % 11 AS h
         FROM ids),
px AS (
  SELECT d.media_id, d.w, d.h,
         sum((3 * d.media_id + 5 * gi.i + 7 * gj.j) % 251) AS s
  FROM dims d
  JOIN generate_series(0, 15) gi(i) ON gi.i < d.h
  JOIN generate_series(0, 15) gj(j) ON gj.j < d.w
  GROUP BY 1, 2, 3)
SELECT media_id,
       CASE WHEN media_id % 29 = 0 THEN 'unknown' ELSE 'pgm' END
           AS media_format,
       CASE WHEN media_id % 29 = 0 THEN NULL
            ELSE CAST(w AS INTEGER) END AS width,
       CASE WHEN media_id % 29 = 0 THEN NULL
            ELSE CAST(h AS INTEGER) END AS height,
       CASE WHEN media_id % 29 = 0 THEN NULL
            ELSE CAST(1 AS INTEGER) END AS n_channels,
       CASE WHEN media_id % 29 = 0 THEN NULL
            ELSE CAST(s AS BIGINT) END AS luma_sum,
       CASE WHEN media_id % 29 = 0 THEN 'no codec for format'
            ELSE NULL END AS decode_error
FROM px
"""

# --------------------------------------------------------------------------
# z-order locality (sinks/layout.py:morton_key): identical bit
# interleave, bucket = top z-bits, per-bucket (x, y) envelopes.
# --------------------------------------------------------------------------


def _zorder_locality_sql() -> str:
    from sea_express_customs_etl_spark.sinks.layout import morton_key_sql

    return f"""
WITH b AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y
           FROM lineitem),
z AS (SELECT x, y, {morton_key_sql('x', 'y', bits=8)} AS z FROM b)
SELECT CAST(z >> 8 AS INTEGER) AS bucket, count(*) AS n_rows,
       min(x) AS x_lo, max(x) AS x_hi, min(y) AS y_lo, max(y) AS y_hi
FROM z GROUP BY 1
"""


ZORDER_LOCALITY_SQL = _zorder_locality_sql()

# --------------------------------------------------------------------------
# SCD2 snapshot diff (operators/scd.py:scd2_from_snapshots): snapshot 2
# derived from orders (delete %17, +10% price %10 in integer cents,
# insert %13 under key+3e6); history as the UNION of the four cases.
# --------------------------------------------------------------------------

_SCD2_HIST_TMPL = """
WITH s1 AS (
  SELECT o_orderkey, o_orderstatus AS status,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_u2
  FROM orders),
s2 AS (
  SELECT o_orderkey, status,
         CASE WHEN o_orderkey % 10 = 0 THEN price_u2 + price_u2 // 10
              ELSE price_u2 END AS price_u2
  FROM s1 WHERE o_orderkey % 17 <> 0
  UNION ALL
  SELECT o_orderkey + 3000000, status, price_u2 + 555
  FROM s1 WHERE o_orderkey % 13 = 0),
j AS (
  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
         a.status AS so, a.price_u2 AS po,
         b.status AS sn, b.price_u2 AS pn,
         a.o_orderkey IS NOT NULL AS in_old,
         b.o_orderkey IS NOT NULL AS in_new
  FROM s1 a FULL OUTER JOIN s2 b ON a.o_orderkey = b.o_orderkey)
SELECT o_orderkey, so AS status, po AS price_u2,
       DATE '{d1}' AS valid_from, DATE '{d2}' AS valid_to,
       FALSE AS is_current, 'deleted' AS change
FROM j WHERE in_old AND NOT in_new
UNION ALL
SELECT o_orderkey, sn, pn, DATE '{d2}', NULL, TRUE, 'inserted'
FROM j WHERE in_new AND NOT in_old
UNION ALL
SELECT o_orderkey, so, po, DATE '{d1}', NULL, TRUE, 'unchanged'
FROM j WHERE in_old AND in_new AND so = sn AND po = pn
UNION ALL
SELECT o_orderkey, so, po, DATE '{d1}', DATE '{d2}',
       FALSE, 'updated'
FROM j WHERE in_old AND in_new AND NOT (so = sn AND po = pn)
UNION ALL
SELECT o_orderkey, sn, pn, DATE '{d2}', NULL, TRUE, 'updated'
FROM j WHERE in_old AND in_new AND NOT (so = sn AND po = pn)
"""

SCD2_HISTORY_SQL = _SCD2_HIST_TMPL.format(d1="2024-01-01", d2="2024-02-01")

# point-in-time join (operators/scd.py:pit_join): each lineitem joined
# to the order VERSION valid at its ship date; the oracle is the naive
# BETWEEN temporal join over the same derived history.
PIT_ORDER_VERSION_SQL = (
    "WITH hist AS ("
    + _SCD2_HIST_TMPL.format(d1="2000-06-01", d2="2001-01-01")
    + """)
SELECT l.l_orderkey AS o_orderkey, l.l_linenumber,
       CAST(l.l_shipdate AS DATE) AS ship_day,
       h.status AS pit_status, h.price_u2 AS pit_price_u2,
       h.valid_from AS pit_valid_from
FROM lineitem l
JOIN hist h ON h.o_orderkey = l.l_orderkey
           AND CAST(l.l_shipdate AS DATE) >= h.valid_from
           AND (h.valid_to IS NULL OR CAST(l.l_shipdate AS DATE) < h.valid_to)
"""
)


# --------------------------------------------------------------------------
# stupid-backoff trigram LM (operators/lm.py:trigram_backoff_score):
# model counted on even doc_ids, scoring the odd half; alpha = e^-1 so
# the backoff penalty is an EXACT integer shift of the micro-unit ln.
# --------------------------------------------------------------------------

TRIGRAM_BACKOFF_SQL = """
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents),
tri_all AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk) - 1),
                i -> struct_pack(a := tk[i], b := tk[i+1], c := tk[i+2]))) AS t
  FROM toked WHERE len(tk) >= 3),
tr AS (SELECT doc_id, t.a AS a, t.b AS b, t.c AS c FROM tri_all
       WHERE doc_id % 2 = 0),
sc AS (SELECT doc_id, t.a AS a, t.b AS b, t.c AS c FROM tri_all
       WHERE doc_id % 2 = 1),
c3 AS (SELECT a, b, c, count(*) AS c3 FROM tr GROUP BY 1, 2, 3),
c2 AS (SELECT a, b, count(*) AS c2 FROM (
         SELECT a, b FROM tr UNION ALL SELECT b, c FROM tr) GROUP BY 1, 2),
c1 AS (SELECT w, count(*) AS c1 FROM (
         SELECT b AS w FROM tr UNION ALL SELECT c AS w FROM tr) GROUP BY 1),
n AS (SELECT sum(c1) AS n FROM c1),
scored AS (
  SELECT sc.doc_id,
         CAST(round((CASE
             WHEN c3.c3 IS NOT NULL THEN ln(c3.c3 / ab.c2)
             WHEN bc.c2 IS NOT NULL THEN ln(bc.c2 / b1.c1) - 1
             WHEN c1c.c1 IS NOT NULL THEN ln(c1c.c1 / n.n) - 2
             ELSE ln(1.0 / n.n) - 2 END) * 1000000.0) AS BIGINT) AS lp,
         CASE WHEN c3.c3 IS NULL THEN 1 ELSE 0 END AS bo
  FROM sc
  LEFT JOIN c3 USING (a, b, c)
  LEFT JOIN c2 ab ON ab.a = sc.a AND ab.b = sc.b
  LEFT JOIN c2 bc ON bc.a = sc.b AND bc.b = sc.c
  LEFT JOIN c1 b1 ON b1.w = sc.b
  LEFT JOIN c1 c1c ON c1c.w = sc.c, n),
agg AS (
  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_trigrams,
         CAST(sum(bo) AS INTEGER) AS backoff_hits,
         CAST(sum(lp) AS BIGINT) AS score_u6
  FROM scored GROUP BY 1)
SELECT d.doc_id, coalesce(n_trigrams, 0) AS n_trigrams,
       coalesce(backoff_hits, 0) AS backoff_hits,
       CAST(coalesce(score_u6, 0) AS BIGINT) AS score_u6
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN agg USING (doc_id)
"""

# --------------------------------------------------------------------------
# inverted index (operators/textstats.py:inverted_index): per-term
# posting lists, delta-encoded (first element = lowest doc id, then
# gaps), plus document frequency and total term frequency.
# --------------------------------------------------------------------------

INVERTED_INDEX_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
g AS (SELECT term, doc_id, tf,
             doc_id - coalesce(lag(doc_id) OVER (PARTITION BY term
                 ORDER BY doc_id), 0) AS gap
      FROM tf)
SELECT term, CAST(count(*) AS INTEGER) AS df,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       string_agg(CAST(gap AS VARCHAR), ',' ORDER BY doc_id) AS gaps
FROM g GROUP BY term
"""

# --------------------------------------------------------------------------
# audio decode from raw bytes (multimodal/binary_ops.py:decode_wav over
# synth_wav_payloads): 400-sample int16 sawtooth
# sample(k) = ((id*13 + 7k) mod 65536) - 32768 at 8 kHz mono; every
# 29th id is a corrupt payload.
# --------------------------------------------------------------------------

AUDIO_DECODE_STATS_SQL = """
WITH ids AS (SELECT p_partkey AS media_id FROM part WHERE p_partkey <= 60),
s AS (
  SELECT i.media_id,
         sum(abs((i.media_id * 13 + g.k * 7) % 65536 - 32768)) AS abs_sum
  FROM ids i, generate_series(0, 399) g(k)
  GROUP BY 1)
SELECT media_id,
       CASE WHEN media_id % 29 = 0 THEN NULL
            ELSE CAST(8000 AS INTEGER) END AS sample_rate,
       CASE WHEN media_id % 29 = 0 THEN NULL
            ELSE CAST(1 AS INTEGER) END AS n_channels,
       CASE WHEN media_id % 29 = 0 THEN NULL
            ELSE CAST(16 AS INTEGER) END AS bits,
       CASE WHEN media_id % 29 = 0 THEN NULL
            ELSE CAST(400 AS INTEGER) END AS n_samples,
       CASE WHEN media_id % 29 = 0 THEN NULL
            ELSE CAST(50 AS BIGINT) END AS duration_ms,
       CASE WHEN media_id % 29 = 0 THEN NULL
            ELSE CAST(abs_sum AS BIGINT) END AS abs_sum,
       CASE WHEN media_id % 29 = 0 THEN 'not a RIFF/WAVE'
            ELSE NULL END AS decode_error
FROM s
"""

# --------------------------------------------------------------------------
# video frame sampling from raw bytes (extract_ppm_frames over
# synth_video_payloads, every 2nd of 5 frames -> 0, 2, 4):
# pixel(f, i, j) = (3*id + 11*f + 5*i + 7*j) mod 251,
# w = 4 + id%7, h = 4 + id%5.
# --------------------------------------------------------------------------

VIDEO_FRAME_STATS_SQL = """
WITH ids AS (SELECT p_partkey AS media_id FROM part WHERE p_partkey <= 40),
dims AS (SELECT media_id, 4 + media_id % 7 AS w, 4 + media_id % 5 AS h
         FROM ids),
fr AS (SELECT f FROM (VALUES (0), (2), (4)) v(f)),
px AS (
  SELECT d.media_id, fr.f, d.w, d.h,
         sum((3 * d.media_id + 11 * fr.f + 5 * gi.i + 7 * gj.j) % 251) AS s
  FROM dims d, fr
  JOIN generate_series(0, 9) gi(i) ON TRUE
  JOIN generate_series(0, 10) gj(j) ON TRUE
  WHERE gi.i < d.h AND gj.j < d.w
  GROUP BY 1, 2, 3, 4)
SELECT media_id, CAST(f AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(s AS BIGINT) AS luma_sum
FROM px
"""




# scene-cut detection (multimodal/binary_ops.py:video_scene_sads over
# synth_video_scenes): consecutive-frame SAD replayed analytically —
# pixel(f,i,j) = (3id + 11f + a·i + b·j) mod 251 with (a,b) switching
# (5,7)→(13,17) at f≥3 for ids % 3 = 0 (the planted cut). The flag is
# exact on both sides: is_cut = sad > 40·n_px.
VIDEO_SCENE_CUTS_SQL = """
WITH ids AS (SELECT p_partkey AS media_id FROM part WHERE p_partkey <= 40),
dims AS (SELECT media_id, 4 + media_id % 7 AS w, 4 + media_id % 5 AS h
         FROM ids),
px AS (
  SELECT d.media_id, fr.f, d.w, d.h, gi.i, gj.j,
         (3 * d.media_id + 11 * fr.f
          + (CASE WHEN fr.f >= 3 AND d.media_id % 3 = 0
                  THEN 13 ELSE 5 END) * gi.i
          + (CASE WHEN fr.f >= 3 AND d.media_id % 3 = 0
                  THEN 17 ELSE 7 END) * gj.j) % 251 AS v
  FROM dims d
  JOIN generate_series(0, 5) fr(f) ON TRUE
  JOIN generate_series(0, 9) gi(i) ON gi.i < d.h
  JOIN generate_series(0, 10) gj(j) ON gj.j < d.w),
sad AS (
  SELECT a.media_id, b.f AS frame_idx,
         CAST(sum(abs(b.v - a.v)) AS BIGINT) AS sad,
         CAST(max(a.w * a.h) AS INTEGER) AS n_px
  FROM px a JOIN px b ON a.media_id = b.media_id AND b.f = a.f + 1
        AND a.i = b.i AND a.j = b.j
  GROUP BY 1, 2)
SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx, sad, n_px,
       CAST(CASE WHEN sad > 40 * n_px THEN 1 ELSE 0 END AS INTEGER)
           AS is_cut
FROM sad
"""

def pretrain_prep_sql(merges) -> str:
    """Composed pretraining-prep oracle: quality gate -> BPE tokenize
    (real token counts, not the chars/4 estimate) -> 512-token packing
    over 4 shards — the gate/bpe/packing fragments reused verbatim,
    composed exactly as plans/pretrain.py composes the operators."""
    return f"""
WITH keep AS (SELECT doc_id FROM ({QUALITY_GATE_SQL}) WHERE passed),
survivors AS (
  SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)),
bpe AS ({bpe_encode_sql(merges, src="survivors")}),
tok AS (
  SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS shard,
         CAST(n_tokens AS BIGINT) AS n_tokens
  FROM bpe),
c AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ROWS UNBOUNDED PRECEDING) AS cum
  FROM tok)
SELECT doc_id, shard,
       CAST(floor((cum - n_tokens) / 512) AS INTEGER) AS bin_id,
       CAST((cum - n_tokens) % 512 AS INTEGER) AS bin_offset,
       n_tokens
FROM c
"""

# per-group HLL register tables (sketches.hll_registers_by)
HLL_TOKENS_BY_SOURCE_SQL = f"""
WITH toks AS (
  SELECT source,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
h AS (SELECT source, {_H48.format(v='tok')} AS h48 FROM toks),
r AS (SELECT source, (h48 % 256)::INTEGER AS bucket, h48 // 256 AS w
      FROM h)
SELECT source, bucket,
       CAST(max(CASE WHEN w = 0 THEN 41
                     ELSE 41 - length(ltrim(bin(w), '0')) END) AS INTEGER)
           AS max_rank
FROM r GROUP BY 1, 2
"""

# linear attribution over 24 h touchpoints
# (operators/attribution.py:linear_attribution): floor shares +
# remainder on the earliest click, exact micro-unit integers
PURCHASE_CLICK_ATTRIBUTION_SQL = """
WITH p AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 1000000) AS BIGINT) AS value_u6
  FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
pairs AS (
  SELECT p.user_id, p.event_id, p.value_u6,
         c.ts AS prior_ts, c.event_id AS prior_event_id
  FROM p JOIN c ON c.user_id = p.user_id
               AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 24 HOUR),
att AS (
  SELECT *, count(*) OVER (PARTITION BY event_id) AS n_touches,
         row_number() OVER (PARTITION BY event_id
             ORDER BY prior_ts, prior_event_id) AS rn
  FROM pairs)
SELECT user_id, event_id, prior_event_id, value_u6,
       CAST(n_touches AS BIGINT) AS n_touches,
       CAST(value_u6 // n_touches
            + CASE WHEN rn = 1
                   THEN value_u6 - (value_u6 // n_touches) * n_touches
                   ELSE 0 END AS BIGINT) AS share_u
FROM att
"""

# MinHash estimator vs exact Jaccard on the same LSH candidate pairs
MINHASH_ESTIMATE_VS_TRUE_SQL = f"""
WITH {_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS n_inter
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2),
est AS (
  SELECT p.id_a, p.id_b,
         CAST({" + ".join(f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END"
                          for i in range(8))} AS INTEGER) AS n_equal_mh
  FROM pairs p
  JOIN sig a ON a.doc_id = p.id_a
  JOIN sig b ON b.doc_id = p.id_b)
SELECT e.id_a, e.id_b, e.n_equal_mh,
       round(i.n_inter / (za.n_sh + zb.n_sh - i.n_inter), 4) AS jaccard
FROM est e
JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
JOIN sizes za ON za.doc_id = e.id_a
JOIN sizes zb ON zb.doc_id = e.id_b
"""

# --------------------------------------------------------------------------
# ANN recall harness (VERDICT r4 #7): integer recall@5 of each
# compressed/probed index vs brute-force cosine ground truth. Composes
# the per-method oracle statements verbatim as subqueries — any change
# to a method's semantics shifts its hits_at_5 counts and breaks the
# hash, so the ANN family's QUALITY (not just its own self-consistency)
# is pinned by the gate. Counts are integers → hash-portable.
# --------------------------------------------------------------------------

# (ANN_RECALL_MATRIX_SQL is defined at the END of this module — it
# composes the per-method statements, including IVFPQ_TRAINED_TOPK_SQL
# defined below.)

# --------------------------------------------------------------------------
# TRAINED IVFPQ (operators/pq.py:ivfpq_trained_topk, VERDICT r4 #3):
# the pq_train_q integer Lloyd's recipe unrolled per subspace —
# residuals quantized to micro-units, init = the 16 lowest-(md5, id)
# sample ids' subvectors, 2 exact-integer iterations with
# floor(sum/count) means and empty-code carry-over, then encode + the
# cell-relative nprobe=2 ADC of the sampled-codebook form. Both the
# trained codebooks AND the search results hash-match.
# --------------------------------------------------------------------------

_D2INT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "z -> (z[1]-z[2])*(z[1]-z[2])))"
)

_PQQ_ITER = f"""
a{{i}} AS (
  SELECT s.vec_id, s.subspace, s.subvec, c.code,
         row_number() OVER (PARTITION BY s.vec_id, s.subspace
             ORDER BY {_D2INT.format(a='s.subvec', b='c.cw')}, c.code) AS rn
  FROM samp s JOIN cb{{j}} c USING (subspace)),
m{{i}} AS (
  SELECT subspace, code, g.p AS pos,
         CAST(floor(sum(subvec[g.p + 1]) / count(*)) AS BIGINT) AS mv
  FROM a{{i}}, generate_series(0, 7) g(p)
  WHERE rn = 1
  GROUP BY 1, 2, 3),
b{{i}} AS (
  SELECT subspace, code, list(mv ORDER BY pos) AS cw
  FROM m{{i}} GROUP BY 1, 2),
cb{{i}} AS (
  SELECT p.subspace, p.code, coalesce(b.cw, p.cw) AS cw
  FROM cb{{j}} p LEFT JOIN b{{i}} b
    ON b.subspace = p.subspace AND b.code = p.code)
"""

_PQQ_PRELUDE = f"""
base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cen AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < 16),
asg AS (
  SELECT vec_id, v, cluster, cv FROM (
    SELECT b.vec_id, b.v, c.cid AS cluster, c.cv,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
               {_D2U6.format(a='b.v', b='c.cv')}, c.cid) AS rn
    FROM base b, cen c)
  WHERE rn = 1),
resq AS (
  SELECT vec_id, cluster,
         list_transform(list_zip(v, cv),
             s -> CAST(round((s[1] - s[2]) * 1000000.0) AS BIGINT)) AS r
  FROM asg),
rsv AS (
  SELECT vec_id, cluster, g.j AS subspace, r[g.j*8+1 : g.j*8+8] AS subvec
  FROM resq, generate_series(0, 7) g(j)),
samp AS (SELECT vec_id, subspace, subvec FROM rsv
         WHERE vec_id >= 16 AND vec_id < 48),
initids AS (
  SELECT vec_id, code FROM (
    SELECT vec_id,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                              vec_id) - 1 AS code
    FROM (SELECT DISTINCT vec_id FROM samp))
  WHERE code < 16),
cb0 AS (
  SELECT s.subspace, i.code, s.subvec AS cw
  FROM samp s JOIN initids i USING (vec_id)),
{_PQQ_ITER.format(i=1, j=0)},
{_PQQ_ITER.format(i=2, j=1)}
"""

_IVFPQ_TRAINED_TMPL = f"""
WITH {_PQQ_PRELUDE},
scored AS (
  SELECT rsv.vec_id, rsv.cluster, rsv.subspace, c.code,
         {_D2INT.format(a='rsv.subvec', b='c.cw')} AS d
  FROM rsv JOIN cb2 c USING (subspace)),
enc AS (
  SELECT vec_id, cluster, subspace, code
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
             ORDER BY d, code) AS rn FROM scored)
  WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v FROM base WHERE vec_id < 10),
probes AS (
  SELECT query_id, cid AS qc, qr FROM (
    SELECT q.query_id, c.cid,
           list_transform(list_zip(q.v, c.cv),
               s -> CAST(round((s[1] - s[2]) * 1000000.0) AS BIGINT)) AS qr,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
               {_D2U6.format(a='q.v', b='c.cv')}, c.cid) AS pr
    FROM q CROSS JOIN cen c)
  WHERE pr <= 2),
qsv AS (
  SELECT query_id, qc, g.j AS subspace, qr[g.j*8+1 : g.j*8+8] AS subvec
  FROM probes, generate_series(0, 7) g(j)),
lut AS (
  SELECT s.query_id, s.qc, s.subspace, c.code,
         {_D2INT.format(a='s.subvec', b='c.cw')} AS d
  FROM qsv s JOIN cb2 c USING (subspace)),
sims AS (
  SELECT l.query_id, e.vec_id AS neighbor_id, e.cluster,
         CAST(SUM(l.d) AS BIGINT) AS dist_u12
  FROM enc e JOIN lut l
    ON e.cluster = l.qc AND e.subspace = l.subspace AND e.code = l.code
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2, 3)
SELECT query_id, neighbor_id, cluster, dist_u12
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY dist_u12, neighbor_id) AS rn FROM sims)
WHERE rn <= __TOPK__
"""

IVFPQ_TRAINED_TOPK_SQL = _IVFPQ_TRAINED_TMPL.replace("__TOPK__", "5", 1)

# Incremental store with tombstoned deletes (streaming/ann_store.py):
# the one-shot search restricted on the STORE side to the survivors of
# the delete batch (vec_id % 7 <> 3) — queries and the frozen model are
# untouched, so only the enc join's store side changes.
ANN_STORE_DELETE_TOPK_SQL = IVFPQ_TRAINED_TOPK_SQL.replace(
    "WHERE e.vec_id <> l.query_id",
    "WHERE e.vec_id <> l.query_id AND e.vec_id % 7 <> 3",
    1,
)

# --------------------------------------------------------------------------
# Quarantine reconciliation (sources/xml_source.py quarantined reader):
# the fixture plants one truncated member per nation with key ≡ 3
# (mod 5), one garbage zip, one non-XML file; healthy member k carries
# k % 3 + 1 records. DuckDB recomputes the whole plan from `nation`.
# --------------------------------------------------------------------------
XML_QUARANTINE_COUNTS_SQL = """
WITH n AS (SELECT n_nationkey AS k FROM nation)
SELECT 'bad_member' AS reason, count(*)::BIGINT AS n FROM n WHERE k % 5 = 3
UNION ALL SELECT 'bad_zip', CAST(1 AS BIGINT)
UNION ALL SELECT 'bad_xml', CAST(1 AS BIGINT)
UNION ALL SELECT 'ok_records',
  CAST(sum(CASE WHEN k % 5 <> 3 THEN k % 3 + 1 ELSE 0 END) AS BIGINT) FROM n
"""

# ANN refine stage (operators/similarity.py:refine_exact_topk over the
# trained index, VERDICT r5 #2): the trained ADC's top-200 candidates
# per query, re-ranked by the EXACT rounded cosine of COSINE_TOPK_SQL
# (ties → lowest neighbor id), top 5. The candidate set is the trained
# statement verbatim at rn <= 200, so both stages stay hash-pinned.
ANN_REFINED_TOPK_SQL = f"""
WITH cand AS (
  SELECT query_id, neighbor_id
  FROM ({_IVFPQ_TRAINED_TMPL.replace("__TOPK__", "200", 1)})),
{_NRM},
sims AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_inner_product(q.v, n.v) / (q.n * n.n), 6) AS cosine
  FROM cand c
  JOIN nrm n ON n.vec_id = c.neighbor_id
  JOIN nrm q ON q.vec_id = c.query_id)
SELECT query_id, neighbor_id, cosine
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, neighbor_id) AS rn FROM sims)
WHERE rn <= 5
"""

# the trained codebooks themselves as a checked artifact: m·k·(dim/m)
# rows of exact integer codeword components
PQ_TRAINED_CODEBOOK_SQL = f"""
WITH {_PQQ_PRELUDE}
SELECT subspace, code, g.p AS pos, cw[g.p + 1] AS c_u6
FROM cb2, generate_series(0, 7) g(p)
"""

ANN_RECALL_MATRIX_SQL = f"""
WITH truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rn5
    FROM ({COSINE_TOPK_SQL}))
  WHERE rn5 <= 5),
retrieved AS (
  SELECT 'ivf_nprobe2' AS method, query_id, neighbor_id
  FROM ({ANN_IVF_NPROBE2_SQL})
  UNION ALL
  SELECT 'sq8' AS method, query_id, neighbor_id FROM ({SQ8_TOPK_SQL})
  UNION ALL
  SELECT 'ivfpq_nprobe2' AS method, query_id, neighbor_id
  FROM ({IVFPQ_NPROBE2_SQL})
  UNION ALL
  SELECT 'ivfpq_trained' AS method, query_id, neighbor_id
  FROM ({IVFPQ_TRAINED_TOPK_SQL})
  UNION ALL
  SELECT 'ivfpq_refined' AS method, query_id, neighbor_id
  FROM ({ANN_REFINED_TOPK_SQL}))
SELECT r.method, r.query_id,
       CAST(count(t.neighbor_id) AS BIGINT) AS hits_at_5,
       CAST(5 AS BIGINT) AS k
FROM retrieved r
LEFT JOIN truth t
  ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id
GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# matryoshka truncation recall (MRL, Kusupati et al. NeurIPS'22):
# recall@5 of leading-prefix truncated-dim cosine retrieval (8/16/32/
# 64) vs the full-dim truth — integer hits per (dim, query), the
# ann_recall_matrix discipline on the dimension axis.
# --------------------------------------------------------------------------
MRL_RECALL_CURVE_SQL = """
WITH 
e8 AS (
  SELECT vec_id, CAST(embedding[1:8] AS DOUBLE[]) AS v,
         sqrt(list_inner_product(CAST(embedding[1:8] AS DOUBLE[]),
                                 CAST(embedding[1:8] AS DOUBLE[]))) AS n
  FROM embeddings),
t8 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
               ORDER BY round(list_inner_product(q.v, c.v) / (q.n * c.n), 6)
                        DESC, c.vec_id) AS rn
    FROM e8 q JOIN e8 c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 10)
  WHERE rn <= 5),
e16 AS (
  SELECT vec_id, CAST(embedding[1:16] AS DOUBLE[]) AS v,
         sqrt(list_inner_product(CAST(embedding[1:16] AS DOUBLE[]),
                                 CAST(embedding[1:16] AS DOUBLE[]))) AS n
  FROM embeddings),
t16 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
               ORDER BY round(list_inner_product(q.v, c.v) / (q.n * c.n), 6)
                        DESC, c.vec_id) AS rn
    FROM e16 q JOIN e16 c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 10)
  WHERE rn <= 5),
e32 AS (
  SELECT vec_id, CAST(embedding[1:32] AS DOUBLE[]) AS v,
         sqrt(list_inner_product(CAST(embedding[1:32] AS DOUBLE[]),
                                 CAST(embedding[1:32] AS DOUBLE[]))) AS n
  FROM embeddings),
t32 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
               ORDER BY round(list_inner_product(q.v, c.v) / (q.n * c.n), 6)
                        DESC, c.vec_id) AS rn
    FROM e32 q JOIN e32 c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 10)
  WHERE rn <= 5),
e64 AS (
  SELECT vec_id, CAST(embedding[1:64] AS DOUBLE[]) AS v,
         sqrt(list_inner_product(CAST(embedding[1:64] AS DOUBLE[]),
                                 CAST(embedding[1:64] AS DOUBLE[]))) AS n
  FROM embeddings),
t64 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
               ORDER BY round(list_inner_product(q.v, c.v) / (q.n * c.n), 6)
                        DESC, c.vec_id) AS rn
    FROM e64 q JOIN e64 c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 10)
  WHERE rn <= 5),
retr AS (
  SELECT 8 AS dim, query_id, neighbor_id FROM t8
  UNION ALL SELECT 16 AS dim, query_id, neighbor_id FROM t16
  UNION ALL SELECT 32 AS dim, query_id, neighbor_id FROM t32
  UNION ALL SELECT 64 AS dim, query_id, neighbor_id FROM t64)
SELECT CAST(r.dim AS INTEGER) AS dim, r.query_id,
       CAST(count(t.neighbor_id) AS BIGINT) AS hits_at_5,
       CAST(5 AS BIGINT) AS k
FROM retr r LEFT JOIN t64 t
  ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id
GROUP BY 1, 2
"""

# CMS heavy hitters (operators/sketches.py:cms_heavy_hitters): distinct
# vocabulary probed against the d=4×w=256 cell table; keep estimates
# reaching 5000 ppm of total tokens, top-20 by (est DESC, tok).
CMS_HEAVY_HITTERS_SQL = f"""
WITH {_SKETCH_TOKS},
cells AS (
  SELECT sketch_row, col, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT g.i AS sketch_row,
           ({_H48.format(v="CAST(g.i AS VARCHAR) || '|' || tok")} % 256)::INTEGER
               AS col
    FROM toks, generate_series(0, 3) g(i))
  GROUP BY 1, 2),
cand AS (SELECT DISTINCT tok FROM toks),
probes AS (
  SELECT cand.tok, g.i AS sketch_row,
         ({_H48.format(v="CAST(g.i AS VARCHAR) || '|' || cand.tok")} % 256)::INTEGER
             AS col
  FROM cand, generate_series(0, 3) g(i)),
est AS (
  SELECT p.tok, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_count
  FROM probes p LEFT JOIN cells c USING (sketch_row, col)
  GROUP BY 1),
t AS (SELECT count(*) AS n FROM toks)
SELECT tok, est_count,
       CAST(est_count * 1000000 // t.n AS BIGINT) AS share_ppm
FROM est, t
WHERE est_count * 1000000 >= t.n * 5000
ORDER BY est_count DESC, tok
LIMIT 20
"""

# --------------------------------------------------------------------------
# perceptual image dedup (multimodal/binary_ops.py: synth_pgm_near_dups
# → image_ahash → ahash_hamming_pairs): the oracle recomputes the
# 8×8 average-hash ANALYTICALLY from the fixture's closed form —
# pixel(i,j) = (3g + (5+g%7)i + (7+g%5)j + (1+g%11)ij) mod 251,
# w = 16+g%13, h = 16+g%11, dup rows (+100000) add +1 per pixel —
# sampled at the same integer nearest-neighbor grid (k·h//8), bit =
# p·64 > Σp, hash as two 32-bit words, 4×16-bit band LSH + bit_count
# verify (exact for max_hamming < bands by pigeonhole). The Spark side
# does the REAL bytes → PNM decode → numpy path; hash equality checks
# the full decode chain, pair equality checks the dedup.
# --------------------------------------------------------------------------

IMAGE_AHASH_DUPS_SQL = """
WITH ids AS (SELECT p_partkey AS gid FROM part WHERE p_partkey <= 2000),
imgs AS (
  SELECT gid, gid AS media_id, 0 AS dd FROM ids
  UNION ALL
  SELECT gid, gid + 100000 AS media_id, 1 AS dd FROM ids WHERE gid % 10 = 0),
dims AS (SELECT media_id, gid, dd, 16 + gid % 13 AS w, 16 + gid % 11 AS h
         FROM imgs),
px AS (
  SELECT d.media_id, gi.k AS ki, gj.k AS kj,
         (3*d.gid + (5 + d.gid % 7) * ((gi.k * d.h) // 8)
                  + (7 + d.gid % 5) * ((gj.k * d.w) // 8)
                  + (1 + d.gid % 11) * ((gi.k * d.h) // 8)
                                    * ((gj.k * d.w) // 8)
          + d.dd) % 251 AS p
  FROM dims d, generate_series(0, 7) gi(k), generate_series(0, 7) gj(k)),
tot AS (SELECT media_id, sum(p) AS s FROM px GROUP BY 1),
bits AS (
  SELECT px.media_id, px.ki * 8 + px.kj AS k,
         CASE WHEN px.p * 64 > t.s THEN 1 ELSE 0 END AS bit
  FROM px JOIN tot t USING (media_id)),
hashes AS (
  SELECT media_id,
         CAST(sum(CASE WHEN k >= 32
                       THEN bit * (CAST(1 AS BIGINT) << (k - 32))
                       ELSE 0 END) AS BIGINT) AS ahash_hi,
         CAST(sum(CASE WHEN k < 32
                       THEN bit * (CAST(1 AS BIGINT) << k)
                       ELSE 0 END) AS BIGINT) AS ahash_lo
  FROM bits GROUP BY 1),
banded AS (
  SELECT media_id, ahash_hi, ahash_lo, b.band,
         CASE b.band
           WHEN 0 THEN ahash_lo % 65536
           WHEN 1 THEN (ahash_lo // 65536) % 65536
           WHEN 2 THEN ahash_hi % 65536
           ELSE (ahash_hi // 65536) % 65536 END AS slice
  FROM hashes, generate_series(0, 3) b(band)),
pairs AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         a.ahash_hi AS ha, a.ahash_lo AS la,
         b.ahash_hi AS hb, b.ahash_lo AS lb
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.slice = b.slice
               AND a.media_id < b.media_id)
SELECT id_a, id_b,
       CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS INTEGER)
           AS hamming
FROM pairs
WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 3
"""

# --------------------------------------------------------------------------
# perceptual audio dedup (multimodal/binary_ops.py: synth_wav_near_dups
# → audio_fingerprint → audio_fp_hamming_pairs): analytic replay of the
# 31-bit energy-difference fingerprint — |v(k)| with v(k) = ((g+k)²·
# (g+2k+1) mod 65536) − 32768, attenuated copies m−m//64, 32 windows of
# 16, bit_w = E_{w+1} > E_w, 8+8+8+7-bit band LSH + bit_count verify.
# The Spark side does the REAL bytes → RIFF walk → PCM → numpy path.
# --------------------------------------------------------------------------

AUDIO_FP_DUPS_SQL = """
WITH ids AS (SELECT p_partkey AS gid FROM part WHERE p_partkey <= 2000),
tracks AS (
  SELECT gid, gid AS media_id, 0 AS att FROM ids
  UNION ALL
  SELECT gid, gid + 100000 AS media_id, 1 AS att FROM ids WHERE gid % 10 = 0),
mags AS (
  SELECT t.media_id, g.k,
         abs(((t.gid + g.k) * (t.gid + g.k) * (t.gid + 2*g.k + 1)) % 65536
             - 32768) AS m0,
         t.att
  FROM tracks t, generate_series(0, 511) g(k)),
m AS (SELECT media_id, k,
             CASE WHEN att = 1 THEN m0 - m0 // 64 ELSE m0 END AS m
      FROM mags),
ener AS (
  SELECT media_id, k // 16 AS w, sum(m) AS e
  FROM m GROUP BY 1, 2),
bits AS (
  SELECT a.media_id, a.w - 1 AS bitpos,
         CASE WHEN a.e > p.e THEN 1 ELSE 0 END AS bit
  FROM ener a JOIN ener p ON p.media_id = a.media_id AND p.w = a.w - 1),
fps AS (
  SELECT media_id,
         CAST(sum(bit * (CAST(1 AS BIGINT) << bitpos)) AS BIGINT) AS fp
  FROM bits GROUP BY 1),
banded AS (
  SELECT media_id, fp, b.band,
         CASE b.band
           WHEN 0 THEN fp % 256
           WHEN 1 THEN (fp // 256) % 256
           WHEN 2 THEN (fp // 65536) % 256
           ELSE (fp // 16777216) % 128 END AS slice
  FROM fps, generate_series(0, 3) b(band)),
pairs AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         a.fp AS fa, b.fp AS fb
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.slice = b.slice
               AND a.media_id < b.media_id)
SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
FROM pairs
WHERE bit_count(xor(fa, fb)) <= 3
"""

# --------------------------------------------------------------------------
# content-defined chunking dedup (operators/cdc_chunking.py): the
# FastCDC-lite SLIDING gear hash replayed as a recursive CTE advancing
# one character per iteration across all documents — g = (unicode ·
# 2654435761) mod 2^20 (the gear byte table as a Knuth multiplicative
# hash), h ← (2·h + g) mod 2^20, never reset (the even multiplier
# sheds a char after 20 shifts, so the boundary test is a function of
# the last ≤20 chars — the self-synchronizing property); boundary iff
# (h < 2^15 AND len>=8) OR len>=64 OR end-of-text; then the
# digest-grain cross-doc reuse aggregation. ASCII corpus: DuckDB
# unicode ≡ Spark ascii per character.
# --------------------------------------------------------------------------
CDC_SHARED_CHUNKS_SQL = """
WITH RECURSIVE rec(doc_id, i, h, start, emit, clen) AS (
  SELECT doc_id, 0, 0, 1, FALSE, 0 FROM documents
  UNION ALL
  SELECT r.doc_id, r.i + 1,
         hn,
         CASE WHEN bnd THEN r.i + 2 ELSE r.start END,
         bnd,
         CASE WHEN bnd THEN r.i + 1 - r.start + 1 ELSE 0 END
  FROM (
    SELECT r.*, d.text,
           (r.h * 2 + (unicode(substring(d.text, r.i + 1, 1))
                        * 2654435761) % 1048576) % 1048576 AS hn,
           length(d.text) AS n
    FROM rec r JOIN documents d USING (doc_id)
    WHERE r.i < length(d.text)
  ) r(doc_id, i, h, start, emit, clen, text, hn, n),
  LATERAL (SELECT (hn < 32768 AND i + 1 - start + 1 >= 8)
                  OR (i + 1 - start + 1) >= 64
                  OR i + 1 = n AS bnd) b
),
chunks AS (
  SELECT r.doc_id,
         substring(d.text, r.start - r.clen, r.clen) AS chunk
  FROM rec r JOIN documents d USING (doc_id)
  WHERE r.emit)
SELECT md5(chunk) AS chunk_hash,
       CAST(max(length(chunk)) AS BIGINT) AS chunk_len,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occ
FROM chunks GROUP BY 1
HAVING count(DISTINCT doc_id) >= 2
"""

# --------------------------------------------------------------------------
# perceptual video dedup (multimodal/binary_ops.py:
# synth_video_near_dups → video_fingerprint → video_fp_hamming_pairs):
# analytic replay of the 32-bit temporal-ordinal fingerprint —
# per-frame luminance sum over pixel(f,i,j) = (((g+f)²·(g+2f+1)) mod
# 65536 + 5i + 7j + dd) mod 251 with w = 4+g%7, h = 4+g%5 (constant-
# bound series + per-row dimension filters: this DuckDB rejects
# LATERAL column bounds in generate_series), bit_f = S_{f+1} > S_f,
# 4×8-bit band LSH + bit_count verify. The Spark side does the REAL
# bytes → concatenated-PNM walk → numpy path.
# --------------------------------------------------------------------------
VIDEO_FP_DUPS_SQL = """
WITH ids AS (SELECT p_partkey AS gid FROM part WHERE p_partkey <= 2000),
vids AS (
  SELECT gid, gid AS media_id, 0 AS dd FROM ids
  UNION ALL
  SELECT gid, gid + 100000 AS media_id, 1 AS dd FROM ids
  WHERE gid % 10 = 0),
fsum AS (
  SELECT v.media_id, f.k AS f,
         sum((((v.gid + f.k) * (v.gid + f.k) * (v.gid + 2*f.k + 1)) % 65536
              + 5*i.ki + 7*j.kj + v.dd) % 251) AS s
  FROM vids v,
       generate_series(0, 32) f(k),
       generate_series(0, 7) i(ki),
       generate_series(0, 9) j(kj)
  WHERE i.ki < 4 + v.gid % 5 AND j.kj < 4 + v.gid % 7
  GROUP BY 1, 2),
vbits AS (
  SELECT a.media_id, a.f - 1 AS bitpos,
         CASE WHEN a.s > p.s THEN 1 ELSE 0 END AS bit
  FROM fsum a JOIN fsum p ON p.media_id = a.media_id AND p.f = a.f - 1),
vfps AS (
  SELECT media_id,
         CAST(sum(bit * (CAST(1 AS BIGINT) << bitpos)) AS BIGINT) AS fp
  FROM vbits GROUP BY 1),
vbanded AS (
  SELECT media_id, fp, b.band,
         CASE b.band
           WHEN 0 THEN fp % 256
           WHEN 1 THEN (fp // 256) % 256
           WHEN 2 THEN (fp // 65536) % 256
           ELSE (fp // 16777216) % 256 END AS slice
  FROM vfps, generate_series(0, 3) b(band)),
vpairs AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         a.fp AS fa, b.fp AS fb
  FROM vbanded a
  JOIN vbanded b ON a.band = b.band AND a.slice = b.slice
               AND a.media_id < b.media_id)
SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
FROM vpairs
WHERE bit_count(xor(fa, fb)) <= 3
"""

# --------------------------------------------------------------------------
# multi-signal dedup v2 (r7 VERDICT #7): text shingle-LSH ∪ embedding
# cosine ∪ perceptual image aHash ∪ perceptual audio fingerprint over
# one mixed-modal corpus (media synthesized per DOC id; planted media
# copies arrive as extra entities under id+100000), one component
# resolution, per-cluster per-signal edge contributions. The image and
# audio edge families replay their analytic closed forms (the
# IMAGE_AHASH/AUDIO_FP pipelines with gid = doc_id); the embedding
# family is SEMANTIC_DEDUP's IVF-blocked pair CTE. CTEs are prefixed
# (i*/a*/s*) to avoid collisions inside the one statement.
# --------------------------------------------------------------------------
MULTISIGNAL_DEDUP_V2_SQL = f"""
WITH RECURSIVE {_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS}, {_VPAIRS},
{_NRM},
scen AS (SELECT vec_id AS centroid_id, v AS cv, n AS cn
         FROM nrm WHERE vec_id < 16),
sasg AS (
  SELECT vec_id, v, n, centroid_id AS cluster FROM (
    SELECT e.vec_id, e.v, e.n, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_inner_product(e.v, c.cv) / (e.n * c.cn), 6)
                        DESC, c.centroid_id) AS rn
    FROM nrm e CROSS JOIN scen c)
  WHERE rn = 1),
spairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sasg a JOIN sasg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(list_inner_product(a.v, b.v) / (a.n * b.n), 6) >= 0.4),
mids AS (SELECT doc_id AS gid FROM documents),
imgs AS (
  SELECT gid, gid AS media_id, 0 AS dd FROM mids
  UNION ALL
  SELECT gid, gid + 100000 AS media_id, 1 AS dd FROM mids
  WHERE gid % 10 = 0),
idims AS (SELECT media_id, gid, dd, 16 + gid % 13 AS w, 16 + gid % 11 AS h
          FROM imgs),
ipx AS (
  SELECT d.media_id, gi.k AS ki, gj.k AS kj,
         (3*d.gid + (5 + d.gid % 7) * ((gi.k * d.h) // 8)
                  + (7 + d.gid % 5) * ((gj.k * d.w) // 8)
                  + (1 + d.gid % 11) * ((gi.k * d.h) // 8)
                                    * ((gj.k * d.w) // 8)
          + d.dd) % 251 AS p
  FROM idims d, generate_series(0, 7) gi(k), generate_series(0, 7) gj(k)),
itot AS (SELECT media_id, sum(p) AS s FROM ipx GROUP BY 1),
ibits AS (
  SELECT ipx.media_id, ipx.ki * 8 + ipx.kj AS k,
         CASE WHEN ipx.p * 64 > t.s THEN 1 ELSE 0 END AS bit
  FROM ipx JOIN itot t USING (media_id)),
ihashes AS (
  SELECT media_id,
         CAST(sum(CASE WHEN k >= 32
                       THEN bit * (CAST(1 AS BIGINT) << (k - 32))
                       ELSE 0 END) AS BIGINT) AS ahash_hi,
         CAST(sum(CASE WHEN k < 32
                       THEN bit * (CAST(1 AS BIGINT) << k)
                       ELSE 0 END) AS BIGINT) AS ahash_lo
  FROM ibits GROUP BY 1),
ibanded AS (
  SELECT media_id, ahash_hi, ahash_lo, b.band,
         CASE b.band
           WHEN 0 THEN ahash_lo % 65536
           WHEN 1 THEN (ahash_lo // 65536) % 65536
           WHEN 2 THEN ahash_hi % 65536
           ELSE (ahash_hi // 65536) % 65536 END AS slice
  FROM ihashes, generate_series(0, 3) b(band)),
ipairs0 AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         a.ahash_hi AS ha, a.ahash_lo AS la,
         b.ahash_hi AS hb, b.ahash_lo AS lb
  FROM ibanded a
  JOIN ibanded b ON a.band = b.band AND a.slice = b.slice
               AND a.media_id < b.media_id),
ipairs AS (
  SELECT id_a, id_b FROM ipairs0
  WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 3),
tracks AS (
  SELECT gid, gid AS media_id, 0 AS att FROM mids
  UNION ALL
  SELECT gid, gid + 100000 AS media_id, 1 AS att FROM mids
  WHERE gid % 10 = 0),
amags AS (
  SELECT t.media_id, g.k,
         abs(((t.gid + g.k) * (t.gid + g.k) * (t.gid + 2*g.k + 1)) % 65536
             - 32768) AS m0,
         t.att
  FROM tracks t, generate_series(0, 511) g(k)),
am AS (SELECT media_id, k,
              CASE WHEN att = 1 THEN m0 - m0 // 64 ELSE m0 END AS m
       FROM amags),
aener AS (
  SELECT media_id, k // 16 AS w, sum(m) AS e
  FROM am GROUP BY 1, 2),
abits AS (
  SELECT a.media_id, a.w - 1 AS bitpos,
         CASE WHEN a.e > p.e THEN 1 ELSE 0 END AS bit
  FROM aener a JOIN aener p ON p.media_id = a.media_id AND p.w = a.w - 1),
afps AS (
  SELECT media_id,
         CAST(sum(bit * (CAST(1 AS BIGINT) << bitpos)) AS BIGINT) AS fp
  FROM abits GROUP BY 1),
abanded AS (
  SELECT media_id, fp, b.band,
         CASE b.band
           WHEN 0 THEN fp % 256
           WHEN 1 THEN (fp // 256) % 256
           WHEN 2 THEN (fp // 65536) % 256
           ELSE (fp // 16777216) % 128 END AS slice
  FROM afps, generate_series(0, 3) b(band)),
apairs0 AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         a.fp AS fa, b.fp AS fb
  FROM abanded a
  JOIN abanded b ON a.band = b.band AND a.slice = b.slice
               AND a.media_id < b.media_id),
apairs AS (
  SELECT id_a, id_b FROM apairs0 WHERE bit_count(xor(fa, fb)) <= 3),
alledges AS (
  SELECT id_a, id_b, 'text' AS signal FROM vp
  UNION ALL SELECT id_a, id_b, 'embedding' FROM spairs
  UNION ALL SELECT id_a, id_b, 'image' FROM ipairs
  UNION ALL SELECT id_a, id_b, 'audio' FROM apairs),
redges AS (SELECT id_a AS src, id_b AS dst FROM alledges
           UNION SELECT id_b, id_a FROM alledges),
reach(src, dst) AS (
  SELECT src, dst FROM redges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN redges e ON r.dst = e.src),
comp AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
         FROM reach GROUP BY src),
ents AS (SELECT doc_id AS id FROM documents
         UNION ALL
         SELECT doc_id + 100000 FROM documents WHERE doc_id % 10 = 0),
lab AS (SELECT e.id, coalesce(c.cluster_id, e.id) AS cluster_id
        FROM ents e LEFT JOIN comp c ON c.id = e.id),
mcounts AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
            FROM lab GROUP BY 1),
ecl AS (SELECT coalesce(c.cluster_id, a.id_a) AS cluster_id, a.signal
        FROM alledges a LEFT JOIN comp c ON c.id = a.id_a),
scounts AS (
  SELECT cluster_id,
         sum(CASE WHEN signal = 'text' THEN 1 ELSE 0 END) AS n_text,
         sum(CASE WHEN signal = 'embedding' THEN 1 ELSE 0 END)
             AS n_embedding,
         sum(CASE WHEN signal = 'image' THEN 1 ELSE 0 END) AS n_image,
         sum(CASE WHEN signal = 'audio' THEN 1 ELSE 0 END) AS n_audio
  FROM ecl GROUP BY 1)
SELECT m.cluster_id, m.n_members,
       CAST(coalesce(s.n_text, 0) AS BIGINT) AS n_text,
       CAST(coalesce(s.n_embedding, 0) AS BIGINT) AS n_embedding,
       CAST(coalesce(s.n_image, 0) AS BIGINT) AS n_image,
       CAST(coalesce(s.n_audio, 0) AS BIGINT) AS n_audio
FROM mcounts m LEFT JOIN scounts s USING (cluster_id)
"""

# per-node triangle counts over the co-purchase graph
# (operators/graph.py:triangle_counts): canonical a<b edges, wedge
# close, one count per incident node.
COPURCHASE_TRIANGLES_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey),
e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges),
tris AS (
  SELECT ab.a AS x, ab.b AS y, bc.b AS z
  FROM e ab
  JOIN e bc ON bc.a = ab.b
  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b),
nodes AS (
  SELECT x AS node FROM tris
  UNION ALL SELECT y FROM tris
  UNION ALL SELECT z FROM tris)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY 1
"""

# deterministic word-dropout augmentation (operators/augment.py):
# positional md5 replaces randomness, so the corrupted text is
# replayable bit-for-bit — thresholds are hex_threshold() literals
# supplied at lookup time.
WORD_DROPOUT_SQL = f"""
WITH toks AS (
  SELECT doc_id, tok, i FROM (
    SELECT doc_id, unnest({_TOKS}) AS tok,
           unnest(range(1, len({_TOKS}) + 1)) AS i
    FROM documents)),
kept AS (
  SELECT doc_id, tok, i FROM toks
  WHERE substring(md5(CAST(doc_id AS VARCHAR) || '_' ||
                       CAST(i AS VARCHAR)), 1, 8) >= '{{t}}'),
agg AS (
  SELECT t.doc_id,
         count(*)::BIGINT AS n_tokens,
         coalesce(k.n_kept, 0)::BIGINT AS n_kept,
         coalesce(k.aug_text, '') AS aug_text
  FROM (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1) tt
  JOIN toks t USING (doc_id)
  LEFT JOIN (
    SELECT doc_id, count(*) AS n_kept,
           string_agg(tok, ' ' ORDER BY i) AS aug_text
    FROM kept GROUP BY doc_id) k USING (doc_id)
  GROUP BY t.doc_id, k.n_kept, k.aug_text)
SELECT doc_id, n_tokens, n_kept, aug_text FROM agg
"""

# T5 span corruption (operators/augment.py:span_corruption):
# i.i.d.-by-hash token masking merged into spans via the lag/cumsum
# window pair, per-doc sentinel numbering, string_agg skipping the
# dropped pieces (matches Spark array_join's null-skip).
SPAN_CORRUPTION_SQL = f"""
WITH toks AS (
  SELECT doc_id, tok, i,
         substring(md5('span' || CAST(doc_id AS VARCHAR) || '_' ||
                       CAST(i AS VARCHAR)), 1, 8) < '{{t}}' AS masked
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok,
               unnest(range(1, len({_TOKS}) + 1)) AS i
        FROM documents)),
st AS (
  SELECT *,
         masked AND NOT coalesce(
             lag(masked) OVER (PARTITION BY doc_id ORDER BY i), FALSE)
             AS is_start
  FROM toks),
sp AS (
  SELECT *, sum(CASE WHEN is_start THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY i) AS span
  FROM st),
pieces AS (
  SELECT doc_id, i, masked, is_start,
         CASE WHEN NOT masked THEN tok
              WHEN is_start THEN '<extra_id_' ||
                   CAST(span - 1 AS VARCHAR) || '>'
              ELSE NULL END AS inp,
         CASE WHEN masked AND is_start
              THEN '<extra_id_' || CAST(span - 1 AS VARCHAR) || '>' ||
                   ' ' || tok
              WHEN masked THEN tok ELSE NULL END AS tgt
  FROM sp)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       CAST(sum(CASE WHEN is_start THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
       coalesce(string_agg(inp, ' ' ORDER BY i), '') AS input_text,
       coalesce(string_agg(tgt, ' ' ORDER BY i), '') AS target_text
FROM pieces GROUP BY 1
"""

# corpus datacard (the "datasheet for datasets" snapshot): per
# (lang, source) slice — doc count, token mass, integer average,
# corpus share in ppm, exact-duplicate count. One partial-agg pass +
# a digest self-check; every figure integer-exact.
CORPUS_DATACARD_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, source, text,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         md5(text) AS h
  FROM documents),
n AS (SELECT count(*)::BIGINT AS total FROM d),
dup AS (SELECT h FROM d GROUP BY h HAVING count(*) > 1)
SELECT d.lang, d.source,
       count(*)::BIGINT AS n_docs,
       sum(d.n_tokens)::BIGINT AS total_tokens,
       (sum(d.n_tokens) // count(*))::BIGINT AS avg_tokens,
       ((count(*) * 1000000) // max(n.total))::BIGINT AS share_ppm,
       sum(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_dup_docs
FROM d CROSS JOIN n LEFT JOIN dup ON d.h = dup.h
GROUP BY 1, 2
"""

# corpus forensics: the most-duplicated 5-grams (the C4/Gopher-style
# repeated-n-gram analysis that surfaces boilerplate) — document
# frequency over DISTINCT per-doc 5-gram shingles, global top 50 with
# a deterministic (n_docs DESC, shingle ASC) tie-break.
TOP_DUP_NGRAMS_SQL = f"""
WITH sh5 AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - 3),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                       || ' ' || toks[i+3] || ' ' || toks[i+4])) AS shingle
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    WHERE len(toks) >= 5))
SELECT shingle, CAST(count(*) AS BIGINT) AS n_docs
FROM sh5 GROUP BY shingle
ORDER BY n_docs DESC, shingle
LIMIT 50
"""

# entity resolution over part names (fuzzy blocking -> components ->
# canonical entity): the linking family composed end-to-end at
# dictionary grain — candidate pairs from fuzzy_join's prefix/suffix
# blocks + length band + levenshtein<=2 verify, resolved to connected
# components, every part row labeled with its component-minimum name.
PART_ENTITY_RESOLUTION_SQL = """
WITH RECURSIVE names AS (SELECT DISTINCT lower(trim(p_name)) AS t FROM part),
lk AS (SELECT t, unnest(['p:' || substr(t, 1, 4),
                         's:' || substr(reverse(t), 1, 4)]) AS bk
       FROM names),
cand AS (SELECT DISTINCT a.t AS ta, b.t AS tb FROM lk a JOIN lk b USING (bk)
         WHERE a.t < b.t AND abs(length(a.t) - length(b.t)) <= 2),
vp AS (SELECT ta, tb FROM cand WHERE levenshtein(ta, tb) <= 2),
edges AS (SELECT ta AS src, tb AS dst FROM vp
          UNION ALL SELECT tb, ta FROM vp),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
comp AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
         FROM reach GROUP BY src)
SELECT p.p_partkey, coalesce(c.cluster_id, lower(trim(p.p_name))) AS entity
FROM part p LEFT JOIN comp c ON c.id = lower(trim(p.p_name))
"""

# deterministic hash-seeded random walks (operators/graph.py:
# hash_walks): the DeepWalk sampling primitive with positional md5 in
# place of randomness — per step, next = argmin md5(walk_step_cur_nb),
# 4 steps unrolled, 2 walks per node over the >=2-co-occurrence graph.
GRAPH_HASH_WALKS_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
w0 AS (
  SELECT src AS start, w.w AS walk_id, src AS cur
  FROM (SELECT DISTINCT src FROM e0), (VALUES (0), (1)) w(w)),
s1 AS (
  SELECT start, walk_id, dst AS cur FROM (
    SELECT f.start, f.walk_id, e.dst,
           row_number() OVER (PARTITION BY f.start, f.walk_id
             ORDER BY md5(CAST(f.walk_id AS VARCHAR) || '_' || '1' || '_' ||
                          CAST(f.cur AS VARCHAR) || '_' ||
                          CAST(e.dst AS VARCHAR)), e.dst) AS rn
    FROM w0 f JOIN e0 e ON e.src = f.cur)
  WHERE rn = 1),
s2 AS (
  SELECT start, walk_id, dst AS cur FROM (
    SELECT f.start, f.walk_id, e.dst,
           row_number() OVER (PARTITION BY f.start, f.walk_id
             ORDER BY md5(CAST(f.walk_id AS VARCHAR) || '_' || '2' || '_' ||
                          CAST(f.cur AS VARCHAR) || '_' ||
                          CAST(e.dst AS VARCHAR)), e.dst) AS rn
    FROM s1 f JOIN e0 e ON e.src = f.cur)
  WHERE rn = 1),
s3 AS (
  SELECT start, walk_id, dst AS cur FROM (
    SELECT f.start, f.walk_id, e.dst,
           row_number() OVER (PARTITION BY f.start, f.walk_id
             ORDER BY md5(CAST(f.walk_id AS VARCHAR) || '_' || '3' || '_' ||
                          CAST(f.cur AS VARCHAR) || '_' ||
                          CAST(e.dst AS VARCHAR)), e.dst) AS rn
    FROM s2 f JOIN e0 e ON e.src = f.cur)
  WHERE rn = 1),
s4 AS (
  SELECT start, walk_id, dst AS cur FROM (
    SELECT f.start, f.walk_id, e.dst,
           row_number() OVER (PARTITION BY f.start, f.walk_id
             ORDER BY md5(CAST(f.walk_id AS VARCHAR) || '_' || '4' || '_' ||
                          CAST(f.cur AS VARCHAR) || '_' ||
                          CAST(e.dst AS VARCHAR)), e.dst) AS rn
    FROM s3 f JOIN e0 e ON e.src = f.cur)
  WHERE rn = 1)
SELECT start, walk_id, cur AS endpoint FROM s4
"""

# DeepWalk step 2 (operators/graph.py:walk_covisit_pairs): distinct
# visited nodes per start over all 4 steps, hot context nodes dropped
# (visited from > 50 starts — the graph's stop-words), pair join on
# shared visits, keep n_shared >= 3.
GRAPH_WALK_COVISIT_SQL = (
    GRAPH_HASH_WALKS_SQL.rsplit("SELECT", 1)[0]
    + """, visited AS (
  SELECT DISTINCT start, cur AS node FROM (
    SELECT start, cur FROM s1 UNION ALL SELECT start, cur FROM s2
    UNION ALL SELECT start, cur FROM s3 UNION ALL SELECT start, cur FROM s4)),
vf AS (SELECT node FROM visited GROUP BY node HAVING count(*) <= 50),
kept AS (SELECT v.start, v.node FROM visited v JOIN vf USING (node))
SELECT a.start AS start_a, b.start AS start_b, count(*)::BIGINT AS n_shared
FROM kept a JOIN kept b ON a.node = b.node AND a.start < b.start
GROUP BY 1, 2 HAVING count(*) >= 3
"""
)

# connected components over the >=2-co-occurrence co-purchase graph
# (operators/dedup.py:dedup_clusters applied to graph nodes — the same
# min-label resolution the dedup family uses, exposed as the graph
# primitive): per-node component label = component minimum id.
COPURCHASE_COMPONENTS_SQL = """
WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
edges AS (SELECT src, dst FROM e0),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
comp AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
         FROM reach GROUP BY src)
SELECT id AS node, cluster_id FROM comp
"""

# 4-round k-core sieve (operators/graph.py:kcore) over the
# ≥2-co-occurrence co-purchase graph (graph.py:cooccur_edges): each
# round removes nodes of degree < 3 and their edges; output = each
# survivor's degree in the surviving subgraph. Fixed rounds on both
# engines — the pagerank fixed-trajectory discipline, exact integers
# throughout.
COPURCHASE_KCORE_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
d0 AS (SELECT src, count(*) AS d FROM e0 GROUP BY src),
bad0 AS (SELECT src AS node FROM d0 WHERE d < 3),
e1 AS (SELECT * FROM e0 WHERE src NOT IN (SELECT node FROM bad0)
                          AND dst NOT IN (SELECT node FROM bad0)),
d1 AS (SELECT src, count(*) AS d FROM e1 GROUP BY src),
bad1 AS (SELECT src AS node FROM d1 WHERE d < 3),
e2 AS (SELECT * FROM e1 WHERE src NOT IN (SELECT node FROM bad1)
                          AND dst NOT IN (SELECT node FROM bad1)),
d2 AS (SELECT src, count(*) AS d FROM e2 GROUP BY src),
bad2 AS (SELECT src AS node FROM d2 WHERE d < 3),
e3 AS (SELECT * FROM e2 WHERE src NOT IN (SELECT node FROM bad2)
                          AND dst NOT IN (SELECT node FROM bad2)),
d3 AS (SELECT src, count(*) AS d FROM e3 GROUP BY src),
bad3 AS (SELECT src AS node FROM d3 WHERE d < 3),
e4 AS (SELECT * FROM e3 WHERE src NOT IN (SELECT node FROM bad3)
                          AND dst NOT IN (SELECT node FROM bad3))
SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
FROM e4 GROUP BY 1
"""

# sparse TF-IDF cosine join (operators/textstats.py:tfidf_cosine_pairs):
# bigram terms, integer-rational IDF w = tf·((N·1000) // df), df-capped
# (df·10 ≤ N), HUGEINT dot/norms (Spark mirrors in DECIMAL(38,0)),
# cross-multiplied cosine ≥ 1/2 test — floats never enter.
TFIDF_COSINE_PAIRS_SQL = f"""
WITH n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
toks AS (
  SELECT doc_id, tok, i FROM (
    SELECT doc_id, unnest({_TOKS}) AS tok,
           unnest(range(1, len({_TOKS}) + 1)) AS i
    FROM documents)
), big AS (
  SELECT a.doc_id, a.tok || ' ' || b.tok AS term
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM big GROUP BY 1, 2
), df AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
), w AS (
  SELECT tf.doc_id, tf.term, tf.tf * ((n.n_docs * 1000) // df.df) AS w
  FROM tf JOIN df USING (term) CROSS JOIN n
  WHERE df.df * 10 <= n.n_docs AND df.df <= 60
), nrm AS (
  SELECT doc_id, sum(w::HUGEINT * w::HUGEINT) AS n2 FROM w GROUP BY doc_id
), dot AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         sum(a.w::HUGEINT * b.w::HUGEINT) AS d,
         count(*)::BIGINT AS n_shared
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, n_shared
FROM dot
JOIN nrm na ON dot.id_a = na.doc_id
JOIN nrm nb ON dot.id_b = nb.doc_id
WHERE 4 * d * d >= 1 * na.n2 * nb.n2
"""

# PPS systematic sampling (operators/sampling.py:pps_systematic_sample):
# k=100 picks over documents weighted by whitespace token count,
# (md5(doc_id), doc_id) order, centered rational positions counted in
# closed form — pure integers, Σ n_picks = k exactly.
PPS_SAMPLE_SQL = f"""
WITH w AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS weight FROM documents),
c AS (
  SELECT doc_id, weight,
         sum(weight) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                           ROWS UNBOUNDED PRECEDING) AS c
  FROM w),
t AS (SELECT sum(weight) AS T FROM w),
n AS (
  SELECT doc_id, weight,
         (CASE WHEN 200 * c <= t.T THEN 0
               ELSE (200 * c - 1 - t.T) // (2 * t.T) + 1 END)
         - (CASE WHEN 200 * (c - weight) <= t.T THEN 0
                 ELSE (200 * (c - weight) - 1 - t.T) // (2 * t.T) + 1 END)
             AS n_picks
  FROM c, t)
SELECT doc_id, weight AS n_tokens, CAST(n_picks AS BIGINT) AS n_picks
FROM n WHERE n_picks > 0
"""

# exact-integer k-sigma outliers (operators/profiling.py:sigma_outliers):
# per-event-type 1.7σ gate via the cross-multiplied form in int128 —
# no sqrt, no float aggregation.
EVENT_SIGMA_OUTLIERS_SQL = """
WITH e AS (SELECT event_id, event_type,
                  CAST(round(value * 100) AS BIGINT) AS x FROM events),
s AS (SELECT event_type, count(*) AS n, sum(x) AS s, sum(x*x) AS q
      FROM e GROUP BY 1)
SELECT e.event_id, e.event_type, e.x AS value_c, CAST(s.n AS BIGINT) AS n_group
FROM e JOIN s USING (event_type)
WHERE 100 * CAST(s.n * e.x - s.s AS HUGEINT) * CAST(s.n * e.x - s.s AS HUGEINT)
      > 289 * (CAST(s.n AS HUGEINT) * CAST(s.q AS HUGEINT)
               - CAST(s.s AS HUGEINT) * CAST(s.s AS HUGEINT))
"""

# LSH recall curve (dedup-family quality harness, sibling of
# ANN_RECALL_MATRIX): exact Jaccard over all co-shingle pairs bucketed
# by floor(10·j) — pure integer ratio — vs the banded MinHash candidate
# set. Any change to shingling, minhashing, or banding moves the
# per-bucket (n_true, n_found) counts and breaks the hash.
# corpus augmented with VARYING-overlap prefix copies (every 20th doc,
# prefix fraction 30/45/60/75/90% by id) so the curve spans mid-range
# Jaccard deciles instead of the corpus's bimodal 0/0.9 split; integer
# `// 100` prefix arithmetic (CAST(double AS INT) truncates in Spark
# but ROUNDS in DuckDB — the known gotcha, dodged).
_CURVE_AUG = """
aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         substring(text, 1,
             CAST((length(text) * (30 + 15 * ((doc_id // 20) % 5))) // 100
                  AS INTEGER)) AS text
  FROM documents WHERE doc_id % 20 = 0)
"""

LSH_RECALL_CURVE_SQL = f"""
WITH {_CURVE_AUG}, {_AUG_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
co AS (
  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, count(*) AS n_inter
  FROM sh sa JOIN sh sb ON sb.shingle = sa.shingle
   AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2),
truth AS (
  SELECT c.id_a, c.id_b,
         CAST((10 * c.n_inter) // (za.n_sh + zb.n_sh - c.n_inter)
              AS INTEGER) AS j_bucket
  FROM co c
  JOIN sizes za ON za.doc_id = c.id_a
  JOIN sizes zb ON zb.doc_id = c.id_b)
SELECT t.j_bucket,
       CAST(count(*) AS BIGINT) AS n_true,
       CAST(count(p.id_a) AS BIGINT) AS n_found
FROM truth t
LEFT JOIN pairs p ON p.id_a = t.id_a AND p.id_b = t.id_b
GROUP BY 1
"""

# multi-signal dedup: TEXT near-dup edges (shingle-LSH + exact Jaccard,
# the dedup_clusters prelude, renamed to vp_text) UNIONed with SEMANTIC
# near-dup edges (IVF-blocked embedding cosine, vec_id ≡ doc_id in the
# synthetic corpus) feeding ONE component resolution — duplicates that
# only one signal sees still merge into the same cluster.
_VPAIRS_TEXT = _VPAIRS.replace("vp AS (", "vp_text AS (")

MULTISIGNAL_DEDUP_SQL = f"""
WITH RECURSIVE {_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS}, {_VPAIRS_TEXT},
{_NRM},
cen AS (SELECT vec_id AS centroid_id, v AS cv, n AS cn FROM nrm
        WHERE vec_id < 16),
asg AS (
  SELECT vec_id, v, n, centroid_id AS cluster FROM (
    SELECT e.vec_id, e.v, e.n, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_inner_product(e.v, c.cv)
                              / (e.n * c.cn), 6) DESC,
                        c.centroid_id) AS rn
    FROM nrm e CROSS JOIN cen c)
  WHERE rn = 1),
vp_sem AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(list_inner_product(a.v, b.v) / (a.n * b.n), 6) >= 0.4),
vp AS (SELECT id_a, id_b FROM vp_text
       UNION SELECT id_a, id_b FROM vp_sem),
{_CCOMP}
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       CAST(CASE WHEN coalesce(c.cluster_id, d.doc_id) = d.doc_id
                 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
"""

# sketch-based winsorization (operators/quantiles.py:winsorize_by_group):
# per-type [p01, p99] discrete-quantile clamp — quantile = lower edge of
# the first unit bin reaching ceil(q·N), the histogram_quantiles rule.
EVENT_WINSORIZED_SUMS_SQL = """
WITH e AS (SELECT event_type,
                  CAST(round(value * 100) AS BIGINT) AS x FROM events),
h AS (SELECT event_type, x AS bin, count(*) AS n FROM e GROUP BY 1, 2),
c AS (SELECT event_type, bin,
             sum(n) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(n) OVER (PARTITION BY event_type) AS N
      FROM h),
q AS (SELECT event_type,
             min(CASE WHEN cum >= (N * 1 + 99) // 100 THEN bin END) AS lo,
             min(CASE WHEN cum >= (N * 99 + 99) // 100 THEN bin END) AS hi
      FROM c GROUP BY 1)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(e.x) AS BIGINT) AS sum_raw_c,
       CAST(sum(least(greatest(e.x, q.lo), q.hi)) AS BIGINT) AS sum_winsor_c
FROM e JOIN q USING (event_type)
GROUP BY 1
"""

# keep-by-quality dedup (operators/dedup.py:keep_by_quality): same
# components as DEDUP_CLUSTERS_SQL, representative = (max text length,
# min id) instead of min id.
DEDUP_KEEP_LONGEST_SQL = f"""
WITH RECURSIVE {_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS}, {_VPAIRS}, {_CCOMP},
lab AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         length(d.text) AS q
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
best AS (
  SELECT cluster_id, doc_id FROM (
    SELECT cluster_id, doc_id,
           row_number() OVER (PARTITION BY cluster_id
               ORDER BY q DESC, doc_id) AS rn
    FROM lab)
  WHERE rn = 1)
SELECT l.doc_id, l.cluster_id,
       CAST(CASE WHEN l.doc_id = b.doc_id THEN 1 ELSE 0 END AS INTEGER)
           AS keep
FROM lab l JOIN best b ON b.cluster_id = l.cluster_id
"""

# per-group integer Gini (operators/profiling.py:gini_by_group):
# within-group ascending rank (ties -> orderkey), ppm floor ratio in
# int128.
ORDER_VALUE_GINI_SQL = """
WITH b AS (SELECT o_orderpriority AS g, o_orderkey AS k,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS x
           FROM orders),
r AS (SELECT g, x,
             row_number() OVER (PARTITION BY g ORDER BY x, k) AS i,
             count(*) OVER (PARTITION BY g) AS n,
             sum(x) OVER (PARTITION BY g) AS sx
      FROM b)
SELECT g AS o_orderpriority,
       CAST(max(n) AS BIGINT) AS n_rows,
       CAST((1000000 * sum(CAST(2*i - n - 1 AS HUGEINT) * CAST(x AS HUGEINT)))
            // (CAST(max(n) AS HUGEINT) * CAST(max(sx) AS HUGEINT))
            AS BIGINT) AS gini_ppm
FROM r GROUP BY 1
"""

# winnowing document fingerprinting (operators/fingerprint.py:
# winnow_dup_pairs — Schleimer et al. SIGMOD'03 / MOSS): md5 3-gram
# rolling hashes thinned by a w=4 sliding window-minimum (full windows
# only), boilerplate fingerprints df-capped at 50 docs, pairs sharing
# >= 2 fingerprints. Hex-string min is the portable order — no integer
# conversion anywhere.
WINNOW_DUPS_SQL = f"""
WITH base AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id,
         unnest(range(1, len(t) - 1)) AS i,
         unnest(list_transform(range(1, len(t) - 1),
                i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS h,
         len(t) - 2 AS n_sh
  FROM base WHERE len(t) >= 3),
win AS (
  SELECT doc_id, i, n_sh,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM sh),
fps AS (SELECT DISTINCT doc_id, fp FROM win WHERE i <= n_sh - 3),
cnt AS (SELECT fp, count(*) AS dfc FROM fps GROUP BY fp),
keep AS (SELECT doc_id, fp FROM fps JOIN cnt USING (fp) WHERE dfc <= 50)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
"""

# --------------------------------------------------------------------------
# Store-delete gate queries (r7 VERDICT #6): the one-shot oracles
# restricted to the SURVIVORS of the tombstone batch (doc_id % 7 = 3
# retired) — a docs_live CTE replaces every corpus read by text
# substitution, so the delete-path results must equal a fresh build
# that never saw the removed documents. The winnow variant also
# re-derives the corpus-global df cap over the survivors (the read-time
# cap recomputation the store contract promises).
# --------------------------------------------------------------------------
_LIVE_DOCS = "docs_live AS (SELECT * FROM documents WHERE doc_id % 7 <> 3)"
# substitute the corpus reads FIRST, then prepend the CTE (the CTE's
# own "FROM documents" must stay a real table read)
WINNOW_DELETE_PAIRS_SQL = WINNOW_DUPS_SQL.replace(
    "FROM documents", "FROM docs_live"
).replace("WITH ", f"WITH {_LIVE_DOCS},\n", 1)
DEDUP_INCR_DELETE_SQL = DEDUP_CLUSTERS_SQL.replace(
    "FROM documents", "FROM docs_live"
).replace("WITH RECURSIVE ", f"WITH RECURSIVE {_LIVE_DOCS},\n", 1)

# Resource-Allocation link prediction (operators/graph.py:
# resource_alloc_links — Zhou/Lü/Zhang 2009): non-adjacent pairs
# scored by sum(1_000_000 DIV deg(z)) over common neighbors z of the
# >=2-co-occurrence co-purchase graph; integer ppm units end-to-end,
# global top-50 with (score desc, id_a, id_b) deterministic order.
RESOURCE_ALLOC_LINKS_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM e0 WHERE src <> dst),
nbr AS (SELECT a AS node, b AS nb FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT node, count(*) AS d FROM nbr GROUP BY node),
mid AS (SELECT nbr.node, nbr.nb, 1000000 // deg.d AS t
        FROM nbr JOIN deg USING (node)),
pairs AS (
  SELECT x.nb AS id_a, y.nb AS id_b,
         count(*) AS n_common, sum(x.t) AS score_ppm
  FROM mid x JOIN mid y ON x.node = y.node AND x.nb < y.nb
  GROUP BY 1, 2),
nonadj AS (
  SELECT p.* FROM pairs p
  ANTI JOIN e ON e.a = p.id_a AND e.b = p.id_b)
SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
       CAST(score_ppm AS BIGINT) AS score_ppm
FROM nonadj
ORDER BY score_ppm DESC, id_a, id_b
LIMIT 50
"""

# feature-hashing vectorizer retrieval (operators/fhash.py:
# hashed_doc_topk — Weinberger et al. ICML'09 hashing trick): md5
# hex-prefix buckets (256 dims), signed token counts, per-query top-10
# by the float-free signed integer (10^12·dot²) DIV (na²·nb²) — cos²
# at ppt granularity with cosine's sign, ties by neighbor id.
HASHED_DOC_TOPK_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
h AS (
  SELECT doc_id, substr(md5(tok), 1, 2) AS bucket,
         CASE WHEN substr(md5(tok), 3, 1) IN
                   ('8','9','a','b','c','d','e','f')
              THEN -1 ELSE 1 END AS s
  FROM toks),
v AS (
  SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS val
  FROM h GROUP BY 1, 2 HAVING sum(s) <> 0),
n2 AS (
  SELECT doc_id, sum(CAST(val AS HUGEINT) * CAST(val AS HUGEINT)) AS n2
  FROM v GROUP BY 1),
dot AS (
  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         sum(CAST(q.val AS HUGEINT) * CAST(c.val AS HUGEINT)) AS d
  FROM v q JOIN v c ON q.bucket = c.bucket AND q.doc_id <> c.doc_id
  WHERE q.doc_id % 97 = 0
  GROUP BY 1, 2),
sc AS (
  SELECT query_id, neighbor_id,
         (CASE WHEN d < 0 THEN -1 WHEN d > 0 THEN 1 ELSE 0 END)
         * ((1000000000000::HUGEINT * d * d) // (na.n2 * nb.n2))
             AS score_ppt
  FROM dot
  JOIN n2 na ON na.doc_id = dot.query_id
  JOIN n2 nb ON nb.doc_id = dot.neighbor_id)
SELECT query_id, neighbor_id, CAST(score_ppt AS BIGINT) AS score_ppt
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score_ppt DESC, neighbor_id) AS rn FROM sc)
WHERE rn <= 10
"""


def _lpa_ctes(rounds: int) -> str:
    """The shared WITH-body for the LPA family: co-purchase graph +
    ``rounds`` unrolled synchronous sweeps, final labels in
    ``l{rounds}``."""
    parts = [
        """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM e0 WHERE src <> dst),
nbr AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM nbr)"""
    ]
    for r in range(rounds):
        parts.append(
            f""",
c{r} AS (SELECT n.dst AS node, l.lbl, count(*) AS c
        FROM nbr n JOIN l{r} l ON l.node = n.src GROUP BY 1, 2),
l{r + 1} AS (SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
    FROM c{r}) WHERE rn = 1)"""
        )
    return "".join(parts)


def lpa_sql(rounds: int = 4) -> str:
    """Unrolled synchronous label-propagation oracle over the
    >=2-co-occurrence co-purchase graph (operators/graph.py:
    label_propagation): per sweep, each node takes the modal neighbor
    label (ties -> smallest), exactly ``rounds`` sweeps — the
    kcore-style trajectory unroll."""
    return (
        _lpa_ctes(rounds)
        + f"""
SELECT node, CAST(lbl AS BIGINT) AS label FROM l{rounds}"""
    )


def lpa_modularity_sql(rounds: int = 4) -> str:
    """Newman modularity of the ``rounds``-sweep LPA partition in
    exact integer ppm (operators/graph.py:modularity): Q = (4m·e_in −
    Σ d_c²) / (4m²) with HUGEINT arithmetic, truncation-toward-zero
    division on a sign-split magnitude (both engines floor the
    nonnegative magnitude identically)."""
    return (
        _lpa_ctes(rounds)
        + f""",
lab AS (SELECT node, lbl FROM l{rounds}),
m AS (SELECT count(*)::HUGEINT AS m FROM e),
ein AS (
  SELECT count(*)::HUGEINT AS e_in
  FROM e JOIN lab la ON la.node = e.a JOIN lab lb ON lb.node = e.b
  WHERE la.lbl = lb.lbl),
deg AS (SELECT src AS node, count(*)::HUGEINT AS d FROM nbr GROUP BY 1),
dc AS (SELECT la.lbl, sum(deg.d) AS d_c
       FROM deg JOIN lab la USING (node) GROUP BY 1),
parts AS (
  SELECT (SELECT count(*) FROM dc)::BIGINT AS n_communities,
         4 * m.m * (SELECT e_in FROM ein)
           - (SELECT sum(d_c * d_c) FROM dc) AS num,
         4 * m.m * m.m AS den
  FROM m)
SELECT n_communities,
       CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
            * ((1000000 * abs(num)) // den) AS BIGINT) AS modularity_ppm
FROM parts"""
    )


# sorted-neighborhood blocking (operators/fuzzy.py:snm_pairs —
# Hernández & Stolfo SIGMOD'95): distinct lowered part names in
# lexicographic order, pairs within 3 sort positions verified by
# Levenshtein <= 4 — candidate volume exactly n·window.
SNM_PART_PAIRS_SQL = """
WITH names AS (SELECT DISTINCT lower(trim(p_name)) AS t FROM part),
r AS (SELECT t, row_number() OVER (ORDER BY t) AS rn FROM names),
cand AS (
  SELECT a.t AS name_a, b.t AS name_b
  FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3)
SELECT name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
FROM cand WHERE levenshtein(name_a, name_b) <= 4
"""


# χ² feature selection (operators/featsel.py:chi2_feature_scores):
# 2×2 presence×(lang='en') contingency per 64-bucket hashed feature,
# χ²·10⁶ = (10⁶·N·(ad−bc)²) // ((a+b)(c+d)(a+c)(b+d)) in HUGEINT,
# zero marginals → 0. Bucket hash mirrors the DSIR/perceptron bucket.
_FS_BUCKET = (
    "CAST(('0x' || substring(md5(tok), 1, 8))::BIGINT % 64 AS INTEGER)"
)

CHI2_FEATURES_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
pres AS (SELECT DISTINCT doc_id, {_FS_BUCKET} AS bucket FROM toks),
lab AS (SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents),
cnt AS (
  SELECT bucket, sum(y)::BIGINT AS a, (count(*) - sum(y))::BIGINT AS b
  FROM pres JOIN lab USING (doc_id) GROUP BY bucket),
tot AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS np FROM lab),
w AS (
  SELECT bucket, a, b,
         (tot.np - a)::HUGEINT AS c,
         (tot.n - tot.np - b)::HUGEINT AS d,
         tot.n::HUGEINT AS n
  FROM cnt CROSS JOIN tot)
SELECT bucket, CAST(a AS BIGINT) AS n_pos, CAST(a + b AS BIGINT) AS n_docs,
       CAST(CASE WHEN (a+b) * (c+d) * (a+c) * (b+d) = 0 THEN 0
            ELSE (1000000::HUGEINT * n
                  * (a::HUGEINT * d - b::HUGEINT * c)
                  * (a::HUGEINT * d - b::HUGEINT * c))
                 // ((a+b) * (c+d) * (a+c) * (b+d)) END AS BIGINT)
           AS chi2_micro
FROM w
"""

# item-item Jaccard CF (operators/cf.py:item_item_jaccard): per-item
# top-5 co-purchase neighbors, sim_ppm = (10⁶·cooc) // (da+db−cooc),
# min_cooc=2, ties by rec_id.
ITEM_ITEM_JACCARD_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
deg AS (SELECT l_partkey, count(*)::BIGINT AS d FROM items GROUP BY 1),
cooc AS (
  SELECT a.l_partkey AS item_id, b.l_partkey AS rec_id,
         count(*)::BIGINT AS c
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
sc AS (
  SELECT item_id, rec_id,
         (1000000 * c) // (da.d + db.d - c) AS sim_ppm
  FROM cooc
  JOIN deg da ON da.l_partkey = cooc.item_id
  JOIN deg db ON db.l_partkey = cooc.rec_id)
SELECT item_id, rec_id, CAST(sim_ppm AS BIGINT) AS sim_ppm
FROM (SELECT *, row_number() OVER (PARTITION BY item_id
          ORDER BY sim_ppm DESC, rec_id) AS rn FROM sc)
WHERE rn <= 5
"""

# difficulty-stratified round-robin shards (operators/ranking.py:
# round_robin_shards over the lm_score rank order): shard = (rank−1)%8
# under the (avg bigram logprob desc, doc_id) total order — every
# shard gets the same difficulty distribution.
CURRICULUM_SHARDS_SQL = f"""
WITH s AS ({LM_SCORE_SQL}),
r AS (SELECT doc_id,
             row_number() OVER (
                 ORDER BY CAST(logprob_u6 AS DOUBLE)
                          / greatest(n_bigrams, 1) DESC,
                          doc_id) AS rnk
      FROM s)
SELECT doc_id, CAST(rnk AS BIGINT) AS rnk,
       CAST((rnk - 1) % 8 AS INTEGER) AS shard
FROM r
"""


# deterministic negative sampling (operators/sampling.py:
# edge_negative_samples): per >=2-co-occurrence edge and slot in {0,1},
# draw = md5(src|dst|slot) mod |catalog| resolved against the ranked
# part catalog; reject draws equal to an endpoint or adjacent to the
# source. Replayable bit-for-bit — the word_dropout discipline on the
# sampling side of training.
COPURCHASE_NEGATIVES_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM e0 WHERE src <> dst),
cat AS (
  SELECT l_partkey AS item,
         row_number() OVER (ORDER BY l_partkey) - 1 AS r
  FROM (SELECT DISTINCT l_partkey FROM lineitem)),
n AS (SELECT count(*) AS n FROM cat),
slots AS (
  SELECT e.a AS src, e.b AS dst, g.i AS slot
  FROM e CROSS JOIN generate_series(0, 1) g(i)),
drawn AS (
  SELECT src, dst, slot, cat.item AS neg_id
  FROM (SELECT src, dst, slot,
               ('0x' || substring(md5(src || '|' || dst || '|' || slot),
                                  1, 15))::BIGINT % n.n AS r
        FROM slots, n) h
  JOIN cat USING (r)
  WHERE cat.item <> h.src AND cat.item <> h.dst)
SELECT d.src, d.dst, CAST(d.slot AS INTEGER) AS slot, d.neg_id
FROM drawn d
ANTI JOIN e ON e.a = least(d.src, d.neg_id)
           AND e.b = greatest(d.src, d.neg_id)
"""


# hashed-vector document clustering (operators/fhash.py:
# hashed_doc_clusters): hashing-trick dense 64-dim signed-count
# vectors (DSIR bucket hash, sign = hex digit 9) -> the kmeans_fit_q
# integer Lloyd loop (md5-seeded init, 2 unrolled iterations, floor
# means, empty clusters keep the prior centroid) -> exact integer
# squared-L2 assignment, ties -> lowest cluster. Vector entries are
# the RAW signed counts (the Spark side's 1e-6 pre-scale cancels
# quantize_u6's 1e6).
_HKM_BUCKET = "CAST(('0x' || substring(md5(tok), 1, 8))::BIGINT % 64 AS INTEGER)"
_HKM_SIGN = (
    "CASE WHEN substring(md5(tok), 9, 1) IN "
    "('8','9','a','b','c','d','e','f') THEN -1 ELSE 1 END"
)

HASHED_DOC_CLUSTERS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
tb AS (SELECT doc_id, {_HKM_BUCKET} AS b, {_HKM_SIGN} AS s FROM toks),
sv AS (SELECT doc_id, b, sum(s) AS val FROM tb GROUP BY 1, 2),
q AS (
  SELECT doc_id AS vec_id, list(coalesce(val, 0) ORDER BY d) AS v
  FROM (SELECT ids.doc_id, g.d, sv.val
        FROM (SELECT DISTINCT doc_id FROM documents) ids
        CROSS JOIN generate_series(0, 63) g(d)
        LEFT JOIN sv ON sv.doc_id = ids.doc_id AND sv.b = g.d)
  GROUP BY doc_id),
cent0 AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
             - 1 AS cluster, v
  FROM q
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 4),
{_KMQ_ITER.format(i=1, j=0)},
{_KMQ_ITER.format(i=2, j=1)}
SELECT vec_id AS doc_id, CAST(cluster AS BIGINT) AS cluster
FROM (
  SELECT q.vec_id, c.cluster,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY
             list_sum(list_transform(list_zip(q.v, c.v),
                      s -> (s[1] - s[2]) * (s[1] - s[2]))), c.cluster) AS rn
  FROM q, cent2 c)
WHERE rn = 1
"""

# first-order Markov transition matrix (operators/markov.py:
# transition_matrix): per-user (ts, event_id)-ordered adjacent pairs,
# p_ppm = (10^6·n) // row total — nonnegative operands so truncating
# and flooring integer division agree.
EVENT_MARKOV_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events),
p AS (SELECT from_type, to_type, count(*)::BIGINT AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
t AS (SELECT from_type, sum(n) AS tot FROM p GROUP BY 1)
SELECT from_type, to_type, n,
       CAST((1000000 * n) // tot AS BIGINT) AS p_ppm
FROM p JOIN t USING (from_type)
"""

# per-group closed-form OLS (operators/profiling.py:ols_by_group):
# centered second moments in HUGEINT, sign split from magnitude before
# every division (Spark DIV truncates, DuckDB // floors), r² moments
# reduced by n before the cross product so they stay in 128 bits.
PRICE_QTY_OLS_SQL = """
WITH q AS (
  SELECT l_returnflag,
         CAST(floor(l_quantity * 100) AS BIGINT) AS x,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
s AS (
  SELECT l_returnflag,
         count(*)::HUGEINT AS n,
         sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
         sum(x::HUGEINT * y::HUGEINT) AS sxy,
         sum(x::HUGEINT * x::HUGEINT) AS sxx,
         sum(y::HUGEINT * y::HUGEINT) AS syy
  FROM q GROUP BY 1),
m AS (
  SELECT l_returnflag, n,
         n * sxy - sx * sy AS cxy,
         n * sxx - sx * sx AS cxx,
         n * syy - sy * sy AS cyy,
         sx, sy
  FROM s)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       CAST(CASE WHEN cxx = 0 THEN 0 ELSE
            (CASE WHEN cxy < 0 THEN -1 ELSE 1 END)
            * ((1000000::HUGEINT * abs(cxy)) // cxx) END AS BIGINT)
           AS slope_ppm,
       CAST(CASE WHEN cxx = 0 THEN 0 ELSE
            (CASE WHEN sy * cxx - sx * cxy < 0 THEN -1 ELSE 1 END)
            * (abs(sy * cxx - sx * cxy) // (n * cxx)) END AS BIGINT)
           AS intercept_c,
       CAST(CASE WHEN cxx // n = 0 OR cyy // n = 0 THEN 0 ELSE
            (1000000::HUGEINT * (abs(cxy) // n) * (abs(cxy) // n))
            // ((cxx // n) * (cyy // n)) END AS BIGINT) AS r2_ppm
FROM m
"""

# 2-D Pareto skyline (operators/skyline.py:skyline_2d): grain max per
# price, strict-prior running max over ascending price, members join
# back on (price, y = grain max). ROWS ≡ RANGE here — the grain frame
# has one row per distinct price.
PART_PRICE_SIZE_SKYLINE_SQL = """
WITH q AS (
  SELECT p_partkey,
         CAST(floor(p_retailprice * 100) AS BIGINT) AS price_c,
         CAST(p_size AS BIGINT) AS size_v
  FROM part),
g AS (SELECT price_c, max(size_v) AS ymax FROM q GROUP BY 1),
r AS (
  SELECT price_c, ymax,
         max(ymax) OVER (ORDER BY price_c
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
  FROM g),
k AS (SELECT price_c, ymax FROM r WHERE ymax > coalesce(prior, -1))
SELECT q.p_partkey, q.price_c, q.size_v
FROM q JOIN k ON q.price_c = k.price_c AND q.size_v = k.ymax
"""


def _bm25_cte_body(queries: tuple[tuple[str, tuple[str, ...]], ...]) -> str:
    """Shared CTE chain (query terms → tokens → scalars → tf/dl/df →
    per-(query, doc) BM25 scores `sc`) used by both the bm25_topk and
    the RRF-fusion oracles — built from the SAME pinned query-set
    literal as the Spark plans (the bpe FIXED_MERGES rule)."""
    vals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in queries for t in ts
    )
    return f"""qt(query_id, term) AS (SELECT * FROM (VALUES {vals})),
toks AS (
  SELECT doc_id, tok AS term
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
        FROM documents)
  WHERE tok <> ''),
scal AS (
  SELECT (SELECT count(*) FROM documents)::HUGEINT AS n_docs,
         (SELECT count(*) FROM toks)::HUGEINT AS tot),
tf AS (
  SELECT doc_id, term, count(*)::HUGEINT AS tf
  FROM toks JOIN (SELECT DISTINCT term FROM qt) q USING (term)
  GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::HUGEINT AS dl FROM toks GROUP BY 1),
dfq AS (SELECT term, count(*)::HUGEINT AS df FROM tf GROUP BY 1),
sc AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(sum(
           (22000::HUGEINT * ((s.n_docs * 1000) // dfq.df)
            * (s.tot // s.n_docs) * tf.tf)
           // (10 * (s.tot // s.n_docs) * tf.tf
               + 3 * (s.tot // s.n_docs) + 9 * dl.dl)
         ) AS BIGINT) AS score_u6
  FROM tf
  JOIN dl USING (doc_id)
  JOIN dfq USING (term)
  JOIN qt USING (term)
  CROSS JOIN scal s
  GROUP BY 1, 2)"""


def bm25_sql(
    queries: tuple[tuple[str, tuple[str, ...]], ...], k: int = 10
) -> str:
    """BM25 oracle (operators/bm25.py:bm25_topk): integer-rational IDF
    (N·1000)//df, the k1=6/5, b=3/4 saturation rationalized to
    (22000·idf_k·avgdl·tf) // (10·avgdl·tf + 3·avgdl + 9·dl) — all
    operands nonnegative."""
    return f"""
WITH {_bm25_cte_body(queries)}
SELECT query_id, doc_id, score_u6
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score_u6 DESC, doc_id) AS rn FROM sc)
WHERE rn <= {k}
"""


# HITS authorities (operators/graph.py:hits_bipartite): 2 exact
# integer iterations over the customer→part purchase bipartite, L∞
# normalization (max element is exactly 10⁶ each half-step), fully
# unrolled — the pagerank fixed-trajectory discipline.
PURCHASE_HITS_SQL = """
WITH e AS (
  SELECT DISTINCT o_custkey AS hub, l_partkey AS auth
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
a1r AS (SELECT auth, sum(1000000::HUGEINT) AS s FROM e GROUP BY auth),
a1 AS (SELECT auth,
              (1000000::HUGEINT * s) // (SELECT max(s) FROM a1r) AS v
       FROM a1r),
h1r AS (SELECT hub, sum(a1.v) AS s FROM e JOIN a1 USING (auth)
        GROUP BY hub),
h1 AS (SELECT hub,
              (1000000::HUGEINT * s) // (SELECT max(s) FROM h1r) AS v
       FROM h1r),
a2r AS (SELECT auth, sum(h1.v) AS s FROM e JOIN h1 USING (hub)
        GROUP BY auth),
a2 AS (SELECT auth,
              (1000000::HUGEINT * s) // (SELECT max(s) FROM a2r) AS v
       FROM a2r)
SELECT auth AS part_id, CAST(v AS BIGINT) AS auth_u6
FROM a2 ORDER BY v DESC, auth LIMIT 20
"""


# Apriori level-3 frequent itemsets (operators/cf.py:frequent_triples):
# frequent-item prune (anti-monotone support), ordered double
# self-join p1 < p2 < p3 — each triple counted once per order.
FREQUENT_PART_TRIPLES_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
freq AS (SELECT l_partkey FROM items GROUP BY 1 HAVING count(*) >= 2),
f AS (SELECT i.l_orderkey, i.l_partkey
      FROM items i JOIN freq USING (l_partkey))
SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3,
       count(*)::BIGINT AS support
FROM f a
JOIN f b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
JOIN f c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
GROUP BY 1, 2, 3 HAVING count(*) >= 2
"""

# OHLC rollup (operators/timeseries.py:ohlc_by_bucket): open/close =
# first/last centi-unit value under the (epoch_us, event_id) total
# order per (type, hour bucket); the oracle states the order with
# row_number windows — the Spark side gets the identical rows from
# associative struct min/max (no sort).
EVENT_OHLC_HOURLY_SQL = """
WITH q AS (
  SELECT event_type AS type,
         epoch_us(ts) - (epoch_us(ts) % 3600000000) AS bucket_us,
         epoch_us(ts) AS tu, event_id AS id,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events),
r AS (
  SELECT type, bucket_us, v,
         row_number() OVER (PARTITION BY type, bucket_us
             ORDER BY tu, id) AS rn_a,
         row_number() OVER (PARTITION BY type, bucket_us
             ORDER BY tu DESC, id DESC) AS rn_d
  FROM q),
agg AS (
  SELECT type, bucket_us, max(v) AS high_c, min(v) AS low_c,
         count(*)::BIGINT AS n_events
  FROM q GROUP BY 1, 2)
SELECT agg.type, CAST(agg.bucket_us AS BIGINT) AS bucket_us,
       o.v AS open_c, agg.high_c, agg.low_c, c.v AS close_c,
       agg.n_events
FROM agg
JOIN (SELECT type, bucket_us, v FROM r WHERE rn_a = 1) o
  USING (type, bucket_us)
JOIN (SELECT type, bucket_us, v FROM r WHERE rn_d = 1) c
  USING (type, bucket_us)
"""

# per-user TWAP (operators/timeseries.py:time_weighted_avg): LOCF
# holding-time weights, Σ v·Δt // ΣΔt in HUGEINT; zero-duration keys
# dropped (held_us > 0), nonnegative operands throughout.
EVENT_USER_TWAP_SQL = """
WITH q AS (
  SELECT user_id, epoch_us(ts) AS tu, event_id AS id,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events),
s AS (
  SELECT user_id, v,
         lead(tu) OVER (PARTITION BY user_id ORDER BY tu, id) - tu AS dt
  FROM q),
g AS (
  SELECT user_id, count(*)::BIGINT AS n_segments,
         sum(dt)::BIGINT AS held_us,
         CASE WHEN sum(dt) = 0 THEN NULL
              ELSE CAST(sum(v::HUGEINT * dt::HUGEINT)
                        // sum(dt::HUGEINT) AS BIGINT) END AS twap_c
  FROM s WHERE dt IS NOT NULL GROUP BY 1)
SELECT user_id, n_segments, held_us, twap_c FROM g WHERE held_us > 0
"""


# robust MAD outlier gate (operators/quantiles.py:mad_outliers):
# discrete medians — lower edge of the first unit bin reaching
# ceil(N/2) = (N+1)//2 — over values, then over absolute deviations;
# flag 10·|x−med| > 30·mad. All integers, nonnegative divisions.
EVENT_MAD_OUTLIERS_SQL = """
WITH q AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events),
h AS (SELECT event_type, v AS bin, count(*) AS n FROM q GROUP BY 1, 2),
c AS (
  SELECT event_type, bin,
         sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         sum(n) OVER (PARTITION BY event_type) AS tot
  FROM h),
med AS (SELECT event_type, min(bin) AS med_c
        FROM c WHERE cum >= (tot + 1) // 2 GROUP BY 1),
d AS (
  SELECT q.event_id, q.event_type, q.v, med.med_c,
         abs(q.v - med.med_c) AS dev
  FROM q JOIN med USING (event_type)),
h2 AS (SELECT event_type, dev AS bin, count(*) AS n FROM d GROUP BY 1, 2),
c2 AS (
  SELECT event_type, bin,
         sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         sum(n) OVER (PARTITION BY event_type) AS tot
  FROM h2),
mad AS (SELECT event_type, min(bin) AS mad_c
        FROM c2 WHERE cum >= (tot + 1) // 2 GROUP BY 1)
SELECT d.event_id, d.event_type, d.v AS value_c, d.med_c, mad.mad_c
FROM d JOIN mad USING (event_type)
WHERE 10 * abs(d.v - d.med_c) > 30 * mad.mad_c
"""


def benford_sql(ppm: tuple[int, ...], table: str, value_expr: str) -> str:
    """Benford screen oracle built from the SAME fixed ppm literals as
    the Spark plan (operators/profiling.py:BENFORD_PPM)."""
    vals = ", ".join(f"({d + 1}, {p})" for d, p in enumerate(ppm))
    return f"""
WITH q AS (SELECT {value_expr} AS v FROM {table}),
d AS (
  SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         count(*)::BIGINT AS n
  FROM q WHERE v >= 1 GROUP BY 1),
t AS (SELECT sum(n) AS tot FROM d),
e(digit, exp_ppm) AS (SELECT * FROM (VALUES {vals}))
SELECT d.digit, d.n,
       CAST((1000000 * d.n) // t.tot AS BIGINT) AS obs_ppm,
       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
       CAST(abs((1000000 * d.n) // t.tot - e.exp_ppm) AS BIGINT) AS dev_ppm
FROM d CROSS JOIN t JOIN e USING (digit)
"""


# audio silence spans (multimodal/binary_ops.py: synth_wav_silence →
# wav_window_energy → silence_spans): the oracle re-derives the silent
# window set from the fixture's closed form — window w of clip id is
# silent iff (id·7 + w) mod 8 < 2 + (id mod 3) — and merges runs with
# the identical gaps-and-islands grouping. Corrupt ids (% 17 = 5) are
# excluded exactly as the per-row containment drops them.
AUDIO_SILENCE_SPANS_SQL = """
WITH ids AS (
  SELECT p_partkey AS media_id FROM part
  WHERE p_partkey <= 96 AND (p_partkey % 17) <> 5),
w AS (SELECT media_id, g.w
      FROM ids CROSS JOIN generate_series(0, 7) g(w)),
s AS (SELECT media_id, w FROM w
      WHERE (media_id * 7 + w) % 8 < 2 + (media_id % 3)),
sp AS (
  SELECT media_id, w,
         w - row_number() OVER (PARTITION BY media_id ORDER BY w) AS g
  FROM s)
SELECT media_id,
       CAST(min(w) AS INTEGER) AS start_win,
       CAST(max(w) AS INTEGER) AS end_win,
       count(*)::BIGINT AS n_windows
FROM sp GROUP BY media_id, g
"""


# CMS join-size estimate (operators/sketches.py:cms_join_size): the
# Cormode/Muthukrishnan inner-product estimator replayed cell-exactly
# — same 48-bit md5 buckets, min over sketch rows of Σ cell products
# in HUGEINT — next to the true join count.
JOIN_SIZE_ESTIMATE_SQL = f"""
WITH ca AS (
  SELECT g.i AS sketch_row,
         ({_H48.format(v="CAST(g.i AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR)")}
          % 256)::INTEGER AS col,
         count(*)::BIGINT AS cnt
  FROM orders, generate_series(0, 3) g(i) GROUP BY 1, 2),
cb AS (
  SELECT g.i AS sketch_row,
         ({_H48.format(v="CAST(g.i AS VARCHAR) || '|' || CAST(l_orderkey AS VARCHAR)")}
          % 256)::INTEGER AS col,
         count(*)::BIGINT AS cnt
  FROM lineitem, generate_series(0, 3) g(i) GROUP BY 1, 2),
ip AS (
  SELECT ca.sketch_row, sum(ca.cnt::HUGEINT * cb.cnt::HUGEINT) AS ip
  FROM ca JOIN cb USING (sketch_row, col) GROUP BY 1),
t AS (SELECT count(*)::BIGINT AS true_pairs
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
SELECT CAST((SELECT min(ip) FROM ip) AS BIGINT) AS est_pairs,
       t.true_pairs,
       CAST((1000000::HUGEINT * (SELECT min(ip) FROM ip)) // t.true_pairs
            AS BIGINT) AS over_ppm
FROM t
"""


# classifier eval (operators/perceptron.py:confusion_stats): confusion
# matrix of the trained epoch-3 perceptron's keep decision vs the
# lang='en' truth, with exact ppm precision/recall/accuracy — built on
# the SAME training prelude as the filter oracle.
CLASSIFIER_CONFUSION_SQL = (
    "WITH "
    + _PERC_PRELUDE
    + """,
sc AS (SELECT c.doc_id, sum(w3.w * c.c) AS score
       FROM cnt c JOIN w3 USING (bucket) GROUP BY 1),
p AS (
  SELECT CASE WHEN coalesce(sc.score, 0) > 0 THEN 1 ELSE 0 END AS pred,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS truth
  FROM documents d LEFT JOIN sc USING (doc_id)),
m AS (
  SELECT sum(pred * truth)::BIGINT AS tp,
         sum(pred * (1 - truth))::BIGINT AS fp,
         sum((1 - pred) * truth)::BIGINT AS fn,
         sum((1 - pred) * (1 - truth))::BIGINT AS tn
  FROM p)
SELECT tp, fp, fn, tn,
       CAST(CASE WHEN tp + fp = 0 THEN 0
            ELSE (1000000 * tp) // (tp + fp) END AS BIGINT)
           AS precision_ppm,
       CAST(CASE WHEN tp + fn = 0 THEN 0
            ELSE (1000000 * tp) // (tp + fn) END AS BIGINT) AS recall_ppm,
       CAST((1000000 * (tp + tn)) // (tp + fp + fn + tn) AS BIGINT)
           AS accuracy_ppm
FROM m
"""
)

# The same confusion harness over the AVERAGED weights (w1+w2+w3):
# the averaged-vs-plain comparison is two gate hashes, not a claim.
AVERAGED_CONFUSION_SQL = (
    "WITH "
    + _PERC_PRELUDE
    + """,
wavg AS (SELECT w1.bucket, w1.w + w2.w + w3.w AS w
         FROM w1 JOIN w2 USING (bucket) JOIN w3 USING (bucket)),
sc AS (SELECT c.doc_id, sum(wavg.w * c.c) AS score
       FROM cnt c JOIN wavg USING (bucket) GROUP BY 1),
p AS (
  SELECT CASE WHEN coalesce(sc.score, 0) > 0 THEN 1 ELSE 0 END AS pred,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS truth
  FROM documents d LEFT JOIN sc USING (doc_id)),
m AS (
  SELECT sum(pred * truth)::BIGINT AS tp,
         sum(pred * (1 - truth))::BIGINT AS fp,
         sum((1 - pred) * truth)::BIGINT AS fn,
         sum((1 - pred) * (1 - truth))::BIGINT AS tn
  FROM p)
SELECT tp, fp, fn, tn,
       CAST(CASE WHEN tp + fp = 0 THEN 0
            ELSE (1000000 * tp) // (tp + fp) END AS BIGINT)
           AS precision_ppm,
       CAST(CASE WHEN tp + fn = 0 THEN 0
            ELSE (1000000 * tp) // (tp + fn) END AS BIGINT) AS recall_ppm,
       CAST((1000000 * (tp + tn)) // (tp + fp + fn + tn) AS BIGINT)
           AS accuracy_ppm
FROM m
"""
)


# multi-source BFS (operators/graph.py:bfs_hops): fully unrolled
# frontier expansion — level k = distinct neighbors of level k−1 not
# seen at any earlier level; seeds restricted to graph nodes (the
# personalized_pagerank convention). Pure set semantics.
BRAND_BFS_HOPS_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey),
s0 AS (
  SELECT DISTINCT p.p_partkey AS node
  FROM part p
  WHERE p.p_brand = 'Brand#11'
    AND p.p_partkey IN (SELECT src FROM e)),
l1 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN s0 ON e.src = s0.node
  WHERE e.dst NOT IN (SELECT node FROM s0)),
l2 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN l1 ON e.src = l1.node
  WHERE e.dst NOT IN (SELECT node FROM s0)
    AND e.dst NOT IN (SELECT node FROM l1)),
l3 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN l2 ON e.src = l2.node
  WHERE e.dst NOT IN (SELECT node FROM s0)
    AND e.dst NOT IN (SELECT node FROM l1)
    AND e.dst NOT IN (SELECT node FROM l2))
SELECT node, CAST(0 AS INTEGER) AS hop FROM s0
UNION ALL SELECT node, CAST(1 AS INTEGER) FROM l1
UNION ALL SELECT node, CAST(2 AS INTEGER) FROM l2
UNION ALL SELECT node, CAST(3 AS INTEGER) FROM l3
"""


# per-doc tf·idf keywords (operators/textstats.py:top_terms_per_doc):
# integer-rational IDF (N·1000)//df, score = tf·idf_k, top-3 per doc
# by (score DESC, term).
DOC_TOP_TERMS_SQL = """
WITH toks AS (
  SELECT doc_id, tok AS term
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
        FROM documents)
  WHERE tok <> ''),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       FROM toks GROUP BY 1, 2),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
sc AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf * ((n.n_docs * 1000) // dfq.df) AS BIGINT) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN n)
SELECT doc_id, term, score
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, term) AS rn FROM sc)
WHERE rn <= 3
"""

# skip-gram pairs (operators/collocations.py:skipgram_pairs): ordered
# (t_i, t_{i+off}) for off in 1..2 over the empty-filtered token
# array, corpus count, min_count=5, top-50 by (n DESC, a, b).
SKIPGRAM_PAIRS_SQL = """
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     t -> t <> '') AS arr
  FROM documents),
p AS (
  -- this DuckDB build's generate_series rejects lateral column
  -- bounds: use a constant series (fixture docs are << 1024 tokens)
  -- and filter to the per-row length
  SELECT arr[g.i] AS a, arr[g.i + o.off] AS b
  FROM d
  CROSS JOIN (VALUES (1), (2)) o(off)
  CROSS JOIN generate_series(1, 1024) g(i)
  WHERE g.i <= len(arr) - o.off),
c AS (SELECT a, b, count(*)::BIGINT AS n FROM p
      GROUP BY 1, 2 HAVING count(*) >= 5)
SELECT a, b, n FROM c ORDER BY n DESC, a, b LIMIT 50
"""

# hourly rate spikes (composition: epoch-hour counts per type →
# profiling.sigma_outliers at bucket grain, k = 3.0 → k_tenths² = 900).
EVENT_RATE_SPIKES_SQL = """
WITH c AS (
  SELECT event_type,
         epoch_us(ts) - (epoch_us(ts) % 3600000000) AS bucket_us,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2),
s AS (SELECT event_type, count(*) AS cnt, sum(n) AS s, sum(n*n) AS q
      FROM c GROUP BY 1)
SELECT c.bucket_us, c.event_type, c.n AS value_c,
       CAST(s.cnt AS BIGINT) AS n_group
FROM c JOIN s USING (event_type)
WHERE 100 * CAST(s.cnt * c.n - s.s AS HUGEINT)
          * CAST(s.cnt * c.n - s.s AS HUGEINT)
      > 900 * (CAST(s.cnt AS HUGEINT) * CAST(s.q AS HUGEINT)
               - CAST(s.s AS HUGEINT) * CAST(s.s AS HUGEINT))
"""


# association rules (operators/cf.py:basket_rules): ordered A→B pairs
# with support ≥ 2, conf_ppm = (10⁶·sup(AB)) // sup(A), lift_ppm =
# (10⁶·sup(AB)·N) // (sup(A)·sup(B)) in HUGEINT, top-50 by
# (lift DESC, conf DESC, a, b).
BASKET_RULES_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM items),
sup AS (SELECT l_partkey, count(*)::BIGINT AS s FROM items GROUP BY 1),
cooc AS (
  SELECT a.l_partkey AS ante, b.l_partkey AS cons,
         count(*)::BIGINT AS support
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
sc AS (
  SELECT ante, cons, support,
         CAST((1000000 * support) // sa.s AS BIGINT) AS conf_ppm,
         CAST((1000000::HUGEINT * support * n.n_orders)
              // (sa.s::HUGEINT * sb.s::HUGEINT) AS BIGINT) AS lift_ppm
  FROM cooc
  JOIN sup sa ON sa.l_partkey = cooc.ante
  JOIN sup sb ON sb.l_partkey = cooc.cons
  CROSS JOIN n)
SELECT ante, cons, support, conf_ppm, lift_ppm
FROM sc ORDER BY lift_ppm DESC, conf_ppm DESC, ante, cons LIMIT 50
"""

# RFM segmentation (query composition over ranking.global_rank +
# ntile_by_rank — exact ANSI NTILE): quartile 1 = best under each
# metric's (value DESC, custkey) total order.
CUSTOMER_RFM_SQL = """
WITH pc AS (
  SELECT o_custkey,
         max(epoch_us(o_orderdate))::BIGINT AS rec,
         count(*)::BIGINT AS freq,
         sum(CAST(floor(o_totalprice * 100) AS BIGINT))::BIGINT AS mon
  FROM orders GROUP BY 1),
q AS (
  SELECT o_custkey,
         ntile(4) OVER (ORDER BY rec DESC, o_custkey) AS r_q,
         ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f_q,
         ntile(4) OVER (ORDER BY mon DESC, o_custkey) AS m_q
  FROM pc)
SELECT o_custkey, CAST(r_q AS INTEGER) AS r_q, CAST(f_q AS INTEGER) AS f_q,
       CAST(m_q AS INTEGER) AS m_q,
       CAST(r_q * 100 + f_q * 10 + m_q AS INTEGER) AS rfm_code
FROM q
"""

# forecast baselines (operators/timeseries.py:naive_forecast_mae):
# hourly sums, persistence (lag 1) and seasonal-naive (lag 24)
# self-joins at bucket grain, MAE = Σ|err| // n in HUGEINT.
EVENT_FORECAST_MAE_SQL = """
WITH h AS (
  SELECT event_type AS type,
         epoch_us(ts) - (epoch_us(ts) % 3600000000) AS bucket_us,
         sum(CAST(floor(value * 100) AS BIGINT))::BIGINT AS y
  FROM events GROUP BY 1, 2),
m AS (
  SELECT a.type, 'naive_1' AS method,
         count(*)::BIGINT AS n_eval,
         CAST(sum(abs(a.y - f.y)::HUGEINT) // count(*) AS BIGINT) AS mae_c
  FROM h a JOIN h f
    ON a.type = f.type AND a.bucket_us = f.bucket_us + 3600000000
  GROUP BY 1
  UNION ALL
  SELECT a.type, 'seasonal_24' AS method,
         count(*)::BIGINT AS n_eval,
         CAST(sum(abs(a.y - f.y)::HUGEINT) // count(*) AS BIGINT) AS mae_c
  FROM h a JOIN h f
    ON a.type = f.type AND a.bucket_us = f.bucket_us + 24 * 3600000000
  GROUP BY 1)
SELECT type, method, n_eval, mae_c FROM m
"""


def rrf_sql(
    queries: tuple[tuple[str, tuple[str, ...]], ...],
    per_ranker_k: int = 20,
    k: int = 10,
    c: int = 60,
) -> str:
    """Reciprocal-rank fusion oracle (operators/fusion.py:rrf_fuse
    over bm25_topk + term_coverage_ranked): both rankers restated from
    the shared BM25 CTE body, rrf_u6 = Σ 10⁶ // (60 + rank) over the
    two top-20 rankings, fused top-10 by (rrf DESC, doc)."""
    return f"""
WITH {_bm25_cte_body(queries)},
r1 AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
             ORDER BY score_u6 DESC, doc_id) AS rank
  FROM sc QUALIFY rank <= {per_ranker_k}),
cov AS (
  SELECT qt.query_id, tf.doc_id, count(DISTINCT tf.term)::BIGINT AS nq
  FROM tf JOIN qt USING (term) GROUP BY 1, 2),
r2 AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
             ORDER BY nq DESC, doc_id) AS rank
  FROM cov QUALIFY rank <= {per_ranker_k}),
u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
f AS (
  SELECT query_id, doc_id,
         sum(1000000 // ({c} + rank))::BIGINT AS rrf_u6
  FROM u GROUP BY 1, 2)
SELECT query_id, doc_id, rrf_u6
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY rrf_u6 DESC, doc_id) AS rn FROM f)
WHERE rn <= {k}
"""


# temporal graph diff (operators/graph.py:edge_churn): canonical
# undirected ≥2-co-occurrence edge sets per period, kept/new/lost via
# a full-outer flag join, edge-set Jaccard in exact ppm.
COPURCHASE_EDGE_CHURN_SQL = """
WITH dated AS (
  SELECT l.l_orderkey, l.l_partkey, year(o.o_orderdate) AS y
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
ea AS (
  SELECT least(a.l_partkey, b.l_partkey) AS a,
         greatest(a.l_partkey, b.l_partkey) AS b
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM dated WHERE y < 1999) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM dated WHERE y < 1999) b
    USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey HAVING count(*) >= 2),
eb AS (
  SELECT least(a.l_partkey, b.l_partkey) AS a,
         greatest(a.l_partkey, b.l_partkey) AS b
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM dated WHERE y >= 1999) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM dated WHERE y >= 1999) b
    USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey HAVING count(*) >= 2),
ca AS (SELECT DISTINCT a, b FROM ea),
cb AS (SELECT DISTINCT a, b FROM eb),
f AS (
  SELECT coalesce(ca.ok, 0) AS ia, coalesce(cb.ok, 0) AS ib
  FROM (SELECT a, b, 1 AS ok FROM ca) ca
  FULL OUTER JOIN (SELECT a, b, 1 AS ok FROM cb) cb USING (a, b)),
m AS (
  SELECT sum(ia * ib)::BIGINT AS n_kept,
         sum((1 - ia) * ib)::BIGINT AS n_new,
         sum(ia * (1 - ib))::BIGINT AS n_lost
  FROM f)
SELECT n_kept, n_new, n_lost,
       CAST(CASE WHEN n_kept + n_new + n_lost = 0 THEN 0
            ELSE (1000000 * n_kept) // (n_kept + n_new + n_lost) END
            AS BIGINT) AS jaccard_ppm
FROM m
"""


# categorical lift matrix (operators/featsel.py:categorical_lift):
# observed over expected-under-independence in exact ppm, HUGEINT
# cross products.
SEGMENT_PRIORITY_LIFT_SQL = """
WITH j AS (
  SELECT c.c_mktsegment AS a, o.o_orderpriority AS b
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
p AS (SELECT a, b, count(*)::BIGINT AS n FROM j GROUP BY 1, 2),
ma AS (SELECT a, sum(n) AS na FROM p GROUP BY 1),
mb AS (SELECT b, sum(n) AS nb FROM p GROUP BY 1),
t AS (SELECT sum(n) AS nn FROM p)
SELECT p.a, p.b, p.n,
       CAST((1000000::HUGEINT * p.n * t.nn)
            // (ma.na::HUGEINT * mb.nb::HUGEINT) AS BIGINT) AS lift_ppm
FROM p JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN t
"""


# weighted PageRank (operators/graph.py:pagerank_weighted): mass flows
# proportional to co-occurrence COUNT — contrib = (r·w) // W, W = Σ
# out-weights; 3 sweeps unrolled, HUGEINT products, the pagerank
# fixed-trajectory discipline.
_PRW_STEP = """
  SELECT e.dst AS node,
         CAST(150000 + (850000::HUGEINT
              * sum((r.r::HUGEINT * e.w) // e.wtot)) // 1000000
              AS BIGINT) AS r
  FROM ed e JOIN {prev} r ON e.src = r.node
  GROUP BY e.dst
"""

COPURCHASE_PAGERANK_WEIGHTED_SQL = (
    """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ew AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*)::BIGINT AS w
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2),
-- DuckDB identifiers are case-insensitive: an alias W would
-- collide with the edge-weight column w (gate-caught: contribs
-- divided by w instead of the out-weight sum)
ws AS (SELECT src, sum(w) AS wtot FROM ew GROUP BY 1),
ed AS (SELECT e.src, e.dst, e.w, ws.wtot FROM ew e JOIN ws USING (src)),
r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM ws),
it1 AS ("""
    + _PRW_STEP.format(prev="r0")
    + """),
it2 AS ("""
    + _PRW_STEP.format(prev="it1")
    + """),
it3 AS ("""
    + _PRW_STEP.format(prev="it2")
    + """)
SELECT node AS part, r AS rank_u6
FROM it3
ORDER BY rank_u6 DESC, node
LIMIT 50
"""
)


# slice vocabulary overlap (operators/collocations.py:
# source_vocab_overlap): distinct (source, token) grain, pairwise
# token-set Jaccard in exact ppm, src_a < src_b.
SOURCE_VOCAB_OVERLAP_SQL = """
WITH toks AS (
  SELECT DISTINCT source AS s, tok
  FROM (SELECT source,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
        FROM documents)
  WHERE tok <> ''),
sizes AS (SELECT s, count(*)::BIGINT AS v FROM toks GROUP BY 1),
inter AS (
  SELECT a.s AS src_a, b.s AS src_b, count(*)::BIGINT AS n_common
  FROM toks a JOIN toks b USING (tok)
  WHERE a.s < b.s
  GROUP BY 1, 2)
SELECT i.src_a, i.src_b, i.n_common,
       CAST(sa.v + sb.v - i.n_common AS BIGINT) AS n_union,
       CAST((1000000 * i.n_common) // (sa.v + sb.v - i.n_common)
            AS BIGINT) AS jac_ppm
FROM inter i
JOIN sizes sa ON sa.s = i.src_a
JOIN sizes sb ON sb.s = i.src_b
"""


# shared CTE body for the two-sample rank tests
# (operators/stats_tests.py:_pair_rank_table): per-(type, value)
# counts, model-sized pair spine, merged value set, per-side
# cumulative counts under the (g_a, g_b) window ordered by value.
_TWO_SAMPLE_CTES = """
WITH vals AS (
  SELECT event_type AS g, CAST(round(value * 1e6) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL),
cnt AS (SELECT g, v, count(*)::BIGINT AS c FROM vals GROUP BY 1, 2),
tot AS (SELECT g, sum(c)::BIGINT AS n FROM cnt GROUP BY 1),
pairs AS (
  SELECT a.g AS g_a, a.n AS n_a, b.g AS g_b, b.n AS n_b
  FROM tot a JOIN tot b ON a.g < b.g),
mv AS (
  SELECT DISTINCT p.g_a, p.g_b, c.v
  FROM pairs p JOIN cnt c ON c.g = p.g_a OR c.g = p.g_b),
m AS (
  SELECT mv.g_a, mv.g_b, mv.v,
         coalesce(ca.c, 0) AS c_a, coalesce(cb.c, 0) AS c_b
  FROM mv
  LEFT JOIN cnt ca ON ca.g = mv.g_a AND ca.v = mv.v
  LEFT JOIN cnt cb ON cb.g = mv.g_b AND cb.v = mv.v),
cum AS (
  SELECT g_a, g_b, v, c_a, c_b,
         sum(c_a) OVER w AS cum_a, sum(c_b) OVER w AS cum_b
  FROM m WINDOW w AS (PARTITION BY g_a, g_b ORDER BY v))
"""

# exact two-sample KS in ppm (operators/stats_tests.py:ks_two_sample):
# cross-multiplied integer CDF supremum, DIV on nonnegative operands.
EVENT_VALUE_KS_PAIRS_SQL = (
    _TWO_SAMPLE_CTES
    + """
, d AS (
  SELECT c.g_a, c.g_b, p.n_a, p.n_b,
         CAST(max(abs(c.cum_a * p.n_b - c.cum_b * p.n_a)) AS BIGINT)
             AS d_num
  FROM cum c JOIN pairs p USING (g_a, g_b)
  GROUP BY 1, 2, 3, 4)
SELECT g_a, g_b, n_a, n_b, d_num,
       CAST((1000000 * d_num) // (n_a * n_b) AS BIGINT) AS ks_ppm
FROM d
"""
)

# exact Mann-Whitney U, 2x-scaled average ranks
# (operators/stats_tests.py:mann_whitney_u): r_a_x2 folded per tie
# group, U identity closes the pair.
EVENT_VALUE_MWU_PAIRS_SQL = (
    _TWO_SAMPLE_CTES
    + """
, mw AS (
  SELECT g_a, g_b, v, c_a, c_b,
         sum(c_a + c_b) OVER w2 - (c_a + c_b) AS cb0
  FROM cum
  WINDOW w2 AS (PARTITION BY g_a, g_b ORDER BY v)),
r AS (
  SELECT g_a, g_b,
         sum(c_a * (2 * cb0 + c_a + c_b + 1)) AS r_a_x2
  FROM mw GROUP BY 1, 2)
SELECT r.g_a, r.g_b, p.n_a, p.n_b,
       CAST(r.r_a_x2 - p.n_a * (p.n_a + 1) AS BIGINT) AS u_a_x2,
       CAST(2 * p.n_a * p.n_b - (r.r_a_x2 - p.n_a * (p.n_a + 1))
            AS BIGINT) AS u_b_x2
FROM r JOIN pairs p USING (g_a, g_b)
"""
)

# Spearman rho per return flag (operators/stats_tests.py:
# spearman_by_group): 2x-scaled average ranks at distinct-value grain,
# exact integer component sums, ONE double expression rounded 6dp.
QTY_PRICE_SPEARMAN_SQL = """
WITH base AS (
  SELECT l_returnflag AS g,
         CAST(round(l_quantity) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
cx AS (SELECT g, x, count(*)::BIGINT AS c FROM base GROUP BY 1, 2),
rx AS (
  SELECT g, x,
         2 * (sum(c) OVER (PARTITION BY g ORDER BY x) - c) + c + 1
             AS r2x
  FROM cx),
cy AS (SELECT g, y, count(*)::BIGINT AS c FROM base GROUP BY 1, 2),
ry AS (
  SELECT g, y,
         2 * (sum(c) OVER (PARTITION BY g ORDER BY y) - c) + c + 1
             AS r2y
  FROM cy),
ranked AS (
  SELECT b.g, rx.r2x, ry.r2y
  FROM base b
  JOIN rx ON rx.g = b.g AND rx.x = b.x
  JOIN ry ON ry.g = b.g AND ry.y = b.y),
comp AS (
  SELECT g, count(*) AS n_items,
         sum(r2x) AS sx, sum(r2y) AS sy, sum(r2x * r2y) AS sxy,
         sum(r2x * r2x) AS sx2, sum(r2y * r2y) AS sy2
  FROM ranked GROUP BY 1)
SELECT g AS l_returnflag, n_items,
       round((CAST(n_items AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n_items AS DOUBLE) * CAST(sx2 AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n_items AS DOUBLE) * CAST(sy2 AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS rho_spearman
FROM comp
"""

# pooled lag-1 autocorrelation (operators/stats_tests.py:
# lag1_autocorr): per-(user, type) series lag under the
# (epoch_us, event_id) total order, milli-unit values.
EVENT_LAG1_AUTOCORR_SQL = """
WITH s AS (
  SELECT event_type,
         CAST(round(value * 1000) AS BIGINT) AS y,
         lag(CAST(round(value * 1000) AS BIGINT)) OVER
           (PARTITION BY user_id, event_type
            ORDER BY epoch_us(ts), event_id) AS x
  FROM events),
p AS (SELECT event_type, x, y FROM s WHERE x IS NOT NULL),
comp AS (
  SELECT event_type, count(*) AS n_pairs,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sx2, sum(y * y) AS sy2
  FROM p GROUP BY 1)
SELECT event_type, n_pairs,
       round((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sx2 AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n_pairs AS DOUBLE) * CAST(sy2 AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS lag1_corr
FROM comp
"""

# CUSUM changepoint at hour-bucket grain (operators/stats_tests.py:
# cusum_level_shift): T_k = n·cum_k − k·S clears the rational mean;
# earliest-hour tie-break.
EVENT_CUSUM_SHIFT_SQL = """
WITH b AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS epoch_hour,
         CAST(round(value * 1000) AS BIGINT) AS v3
  FROM events),
hb AS (
  SELECT event_type, epoch_hour, sum(v3)::BIGINT AS s3
  FROM b GROUP BY 1, 2),
cur AS (
  SELECT event_type, epoch_hour,
         row_number() OVER wo AS k,
         sum(s3) OVER wo AS cum,
         count(*) OVER wall AS n_buckets,
         sum(s3) OVER wall AS tot
  FROM hb
  WINDOW wo AS (PARTITION BY event_type ORDER BY epoch_hour),
         wall AS (PARTITION BY event_type)),
t AS (
  SELECT event_type, epoch_hour, n_buckets,
         abs(n_buckets * cum - k * tot) AS t_abs_h,
         CASE WHEN n_buckets * cum - k * tot > 0 THEN 1
              WHEN n_buckets * cum - k * tot < 0 THEN -1
              ELSE 0 END AS shift_sign
  FROM cur),
r AS (
  SELECT t.*, row_number() OVER
           (PARTITION BY event_type
            ORDER BY t_abs_h DESC, epoch_hour ASC) AS rn
  FROM t)
SELECT event_type, CAST(n_buckets AS BIGINT) AS n_buckets,
       epoch_hour AS peak_hour, CAST(t_abs_h AS BIGINT) AS t_abs,
       CAST(shift_sign AS INT) AS shift_sign
FROM r WHERE rn = 1
"""


# per-edge triangle support (operators/graph.py:edge_support): same
# canonical triangle enumeration as COPURCHASE_TRIANGLES_SQL, each
# triple unpivoted to its three canonical edges.
COPURCHASE_EDGE_SUPPORT_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey),
e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges),
tris AS (
  SELECT ab.a AS x, ab.b AS y, bc.b AS z
  FROM e ab
  JOIN e bc ON bc.a = ab.b
  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b),
tedges AS (
  SELECT x AS a, y AS b FROM tris
  UNION ALL SELECT x, z FROM tris
  UNION ALL SELECT y, z FROM tris)
SELECT a, b, CAST(count(*) AS BIGINT) AS support
FROM tedges GROUP BY 1, 2
"""

# pairwise HLL overlap stats (operators/sketches.py:hll_pair_overlap):
# union sketch = register-wise max via union-of-attachments; integer
# (n_zero, s_scaled) per side and for the union.
HLL_SOURCE_OVERLAP_SQL = f"""
WITH toks AS (
  SELECT source,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
h AS (SELECT source, {_H48.format(v='tok')} AS h48 FROM toks),
r AS (SELECT source, (h48 % 256)::INTEGER AS bucket, h48 // 256 AS w
      FROM h),
regs AS (
  SELECT source, bucket,
         max(CASE WHEN w = 0 THEN 41
                  ELSE 41 - length(ltrim(bin(w), '0')) END) AS max_rank
  FROM r GROUP BY 1, 2),
slices AS (SELECT DISTINCT source AS g FROM regs),
pairs AS (SELECT a.g AS g_a, b.g AS g_b
          FROM slices a JOIN slices b ON a.g < b.g),
u AS (
  SELECT g_a, g_b, bucket, max(mr) AS ru FROM (
    SELECT p.g_a, p.g_b, rg.bucket, rg.max_rank AS mr
    FROM pairs p JOIN regs rg ON rg.source = p.g_a
    UNION ALL
    SELECT p.g_a, p.g_b, rg.bucket, rg.max_rank
    FROM pairs p JOIN regs rg ON rg.source = p.g_b)
  GROUP BY 1, 2, 3),
agg_u AS (
  SELECT g_a, g_b, (256 - count(*))::INTEGER AS n_zero_u,
         CAST(sum(CAST(2 ** (41 - ru) AS BIGINT)) AS BIGINT)
             AS s_scaled_u
  FROM u GROUP BY 1, 2),
sides AS (
  SELECT source, (256 - count(*))::INTEGER AS nz,
         CAST(sum(CAST(2 ** (41 - max_rank) AS BIGINT)) AS BIGINT) AS ss
  FROM regs GROUP BY 1)
SELECT a.g_a, a.g_b,
       sa.nz AS n_zero_a, sa.ss AS s_scaled_a,
       sb.nz AS n_zero_b, sb.ss AS s_scaled_b,
       a.n_zero_u, a.s_scaled_u
FROM agg_u a
JOIN sides sa ON sa.source = a.g_a
JOIN sides sb ON sb.source = a.g_b
"""

# temperature mixture allocation (operators/sampling.py:
# temperature_allocation): exact isqrt weights (Newton-corrected
# double seed), largest-remainder apportionment, budget = 10000.
TEMPERATURE_MIX_ALLOC_SQL = """
WITH cnt AS (
  SELECT source, count(*)::BIGINT AS n_rows FROM documents GROUP BY 1),
w0 AS (
  SELECT source, n_rows,
         CAST(floor(sqrt(CAST(n_rows AS DOUBLE))) AS BIGINT) AS s0
  FROM cnt),
wt AS (
  SELECT source, n_rows,
         CASE WHEN (s0 + 1) * (s0 + 1) <= n_rows THEN s0 + 1
              WHEN s0 * s0 > n_rows THEN s0 - 1
              ELSE s0 END AS weight
  FROM w0),
tot AS (SELECT sum(weight)::BIGINT AS w_total FROM wt),
base AS (
  SELECT source, n_rows, weight,
         (10000 * weight) // w_total AS base_alloc,
         10000 * weight - ((10000 * weight) // w_total) * w_total
             AS rem
  FROM wt, tot),
fin AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rk,
         sum(base_alloc) OVER () AS base_sum
  FROM base)
SELECT source, n_rows, CAST(weight AS BIGINT) AS weight,
       CAST(base_alloc +
            CASE WHEN rk <= 10000 - base_sum THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM fin
"""

# band join at distinct-cell grain (operators/bandjoin.py:
# band_pair_counts): naive cell-pair band predicate on the oracle
# side (cells are few at sf0.01), bucket+neighbor blocked in Spark.
PRICE_BAND_PAIRS_SQL = """
WITH cells AS (
  SELECT p_brand AS k, CAST(round(p_retailprice * 100) AS BIGINT) AS v,
         count(*)::BIGINT AS c
  FROM part GROUP BY 1, 2),
cross_pairs AS (
  SELECT least(a.k, b.k) AS key_a, greatest(a.k, b.k) AS key_b,
         a.c * b.c AS n
  FROM cells a JOIN cells b
    ON abs(a.v - b.v) <= 25
   AND (a.v < b.v OR (a.v = b.v AND a.k < b.k))),
same AS (
  SELECT k AS key_a, k AS key_b, c * (c - 1) // 2 AS n
  FROM cells WHERE c > 1)
SELECT key_a, key_b, CAST(sum(n) AS BIGINT) AS n_pairs
FROM (SELECT * FROM cross_pairs UNION ALL SELECT * FROM same)
GROUP BY 1, 2
"""

# two-proportion z-test per segment (plans/relational.py:
# segment_conversion_ztest): integer counts, one double expression
# with the same operation grouping as the Spark side, 6dp.
SEGMENT_CONVERSION_ZTEST_SQL = """
WITH conv AS (
  SELECT c_mktsegment,
         CASE WHEN c_custkey IN (SELECT o_custkey FROM orders)
              THEN 1 ELSE 0 END AS is_conv
  FROM customer),
seg AS (
  SELECT c_mktsegment, count(*)::BIGINT AS n_cust,
         sum(is_conv)::BIGINT AS n_conv
  FROM conv GROUP BY 1),
tot AS (SELECT sum(n_cust)::BIGINT AS nn, sum(n_conv)::BIGINT AS kk
        FROM seg)
SELECT c_mktsegment, n_cust, n_conv,
       round((CAST(n_conv AS DOUBLE) / CAST(n_cust AS DOUBLE)
                 - CAST(kk - n_conv AS DOUBLE)
                   / CAST(nn - n_cust AS DOUBLE))
             / sqrt((CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
                    * (1 - CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
                    * (1 / CAST(n_cust AS DOUBLE)
                       + 1 / CAST(nn - n_cust AS DOUBLE))),
             6) AS z_score
FROM seg, tot
"""


# bounded min-plus shortest paths (operators/graph.py:min_plus_paths):
# 4 unrolled relaxation sweeps over cost = 1e6 // cooccurrence count,
# Brand#11 seeds restricted to graph sources.
COPURCHASE_CHEAPEST_PATH_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ew AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst,
         1000000 // count(*) AS w_cost
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2),
s0 AS (
  SELECT DISTINCT p_partkey AS node, CAST(0 AS BIGINT) AS cost
  FROM part
  WHERE p_brand = 'Brand#11'
    AND p_partkey IN (SELECT src FROM ew)),
r1 AS (
  SELECT node, min(cost)::BIGINT AS cost FROM (
    SELECT node, cost FROM s0
    UNION ALL
    SELECT e.dst, d.cost + e.w_cost FROM ew e JOIN s0 d ON e.src = d.node)
  GROUP BY 1),
r2 AS (
  SELECT node, min(cost)::BIGINT AS cost FROM (
    SELECT node, cost FROM r1
    UNION ALL
    SELECT e.dst, d.cost + e.w_cost FROM ew e JOIN r1 d ON e.src = d.node)
  GROUP BY 1),
r3 AS (
  SELECT node, min(cost)::BIGINT AS cost FROM (
    SELECT node, cost FROM r2
    UNION ALL
    SELECT e.dst, d.cost + e.w_cost FROM ew e JOIN r2 d ON e.src = d.node)
  GROUP BY 1),
r4 AS (
  SELECT node, min(cost)::BIGINT AS cost FROM (
    SELECT node, cost FROM r3
    UNION ALL
    SELECT e.dst, d.cost + e.w_cost FROM ew e JOIN r3 d ON e.src = d.node)
  GROUP BY 1)
SELECT node, cost FROM r4
"""

# CF holdout evaluation (operators/cf.py:cf_holdout_eval): hash
# split at {thr}, user-grain Jaccard sims (min_cooc=2), top-10 per
# user, hit-rate over test users. Threshold formatted at lookup.
CF_HOLDOUT_HITRATE_SQL = """
WITH inter AS (
  SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item_id
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
split AS (
  SELECT user_id, item_id,
         substring(md5('cf-holdout' || '|' ||
                       CAST(user_id AS VARCHAR) || '|' ||
                       CAST(item_id AS VARCHAR)), 1, 8) < '{thr}'
             AS is_test
  FROM inter),
train AS (SELECT user_id, item_id FROM split WHERE NOT is_test),
test AS (SELECT user_id, item_id FROM split WHERE is_test),
deg AS (SELECT item_id, count(*)::BIGINT AS d FROM train GROUP BY 1),
cooc AS (
  SELECT a.item_id AS item_a, b.item_id AS item_b,
         count(*)::BIGINT AS c
  FROM train a JOIN train b USING (user_id)
  WHERE a.item_id <> b.item_id
  GROUP BY 1, 2 HAVING count(*) >= 2),
sims AS (
  SELECT c.item_a, c.item_b,
         (1000000 * c.c) // (da.d + db.d - c.c) AS sim_ppm
  FROM cooc c
  JOIN deg da ON da.item_id = c.item_a
  JOIN deg db ON db.item_id = c.item_b),
scored AS (
  SELECT t.user_id, s.item_b AS rec_id, sum(s.sim_ppm)::BIGINT AS score
  FROM train t JOIN sims s ON s.item_a = t.item_id
  GROUP BY 1, 2),
cand AS (
  SELECT sc.* FROM scored sc
  WHERE NOT EXISTS (SELECT 1 FROM train t
                    WHERE t.user_id = sc.user_id
                      AND t.item_id = sc.rec_id)),
recs AS (
  SELECT user_id, rec_id FROM (
    SELECT user_id, rec_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY score DESC, rec_id ASC) AS rn
    FROM cand) WHERE rn <= 10),
tu AS (SELECT DISTINCT user_id FROM test),
er AS (SELECT r.* FROM recs r JOIN tu USING (user_id)),
eh AS (
  SELECT r.* FROM er r
  WHERE EXISTS (SELECT 1 FROM test t
                WHERE t.user_id = r.user_id AND t.item_id = r.rec_id)),
m AS (
  SELECT (SELECT count(DISTINCT user_id) FROM er)::BIGINT AS n_users,
         (SELECT count(*) FROM er)::BIGINT AS n_recs,
         (SELECT count(*) FROM eh)::BIGINT AS n_hits)
SELECT n_users, n_recs, n_hits,
       CASE WHEN n_recs > 0
            THEN CAST((1000000 * n_hits) // n_recs AS BIGINT)
       END AS hit_ppm
FROM m
"""

# positional phrase query (operators/textstats.py:phrase_match_topk):
# 1-based raw-split positions, adjacency semi-joins, global top-20.
PHRASE_SEARCH_TOPK_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term,
         unnest(range(1, len(regexp_split_to_array(trim(lower(text)),
                                                   '\\s+')) + 1)) AS pos
  FROM documents),
p1 AS (SELECT doc_id, pos FROM toks WHERE term = 'hash'),
p2 AS (SELECT doc_id, pos FROM toks WHERE term = 'join'),
hits AS (
  SELECT p1.doc_id, count(*)::BIGINT AS n_hits
  FROM p1
  WHERE EXISTS (SELECT 1 FROM p2
                WHERE p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1)
  GROUP BY 1)
SELECT doc_id, n_hits FROM hits
ORDER BY n_hits DESC, doc_id ASC
LIMIT 20
"""

# hour-of-day seasonal index (operators/timeseries.py:
# seasonal_hour_profile): cell mean vs type mean by integer
# cross-multiplication, HUGEINT products, floor division both sides.
EVENT_SEASONAL_PROFILE_SQL = """
WITH b AS (
  SELECT event_type,
         ((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24)::INTEGER
             AS hour_of_day,
         CAST(round(value * 1e6) AS BIGINT) AS v6
  FROM events),
g AS (
  SELECT event_type, hour_of_day, count(*)::BIGINT AS n_events,
         sum(v6)::BIGINT AS sum_value_u6
  FROM b GROUP BY 1, 2),
t AS (
  SELECT event_type, sum(n_events)::BIGINT AS n_tot,
         sum(sum_value_u6)::BIGINT AS s_tot
  FROM g GROUP BY 1)
SELECT g.event_type, g.hour_of_day, g.n_events, g.sum_value_u6,
       CAST((1000000::HUGEINT * g.sum_value_u6::HUGEINT * t.n_tot::HUGEINT)
            // (g.n_events::HUGEINT * t.s_tot::HUGEINT)
            AS BIGINT) AS seasonal_ppm
FROM g JOIN t USING (event_type)
"""


# keyword-in-context concordance (operators/textstats.py:
# kwic_snippets): staged token array, clamped 1-based list slice.
KWIC_SNIPPETS_SQL = """
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
  FROM documents),
hits AS (
  SELECT doc_id, arr,
         unnest(range(1, len(arr) + 1)) AS pos,
         unnest(arr) AS tok
  FROM toks)
SELECT doc_id, CAST(pos AS INTEGER) AS pos,
       array_to_string(
         arr[greatest(1, pos - 2):least(len(arr), pos + 2)], ' ')
           AS snippet
FROM hits WHERE tok = 'vector'
ORDER BY doc_id ASC, pos ASC
LIMIT 50
"""


# exact Gini decision stump (operators/stump.py:best_stump_split):
# distinct-value cumulants, integer impurity numerators, HUGEINT
# products, earliest-threshold tie-break.
STUMP_SPLIT_LENGTH_SQL = """
WITH base AS (
  SELECT length(text)::BIGINT AS x,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
cnt AS (SELECT x, count(*)::BIGINT AS c, sum(y)::BIGINT AS p
        FROM base GROUP BY 1),
cum AS (
  SELECT x, sum(c) OVER wo AS n_l, sum(p) OVER wo AS p_l,
         sum(c) OVER () AS nn, sum(p) OVER () AS pp
  FROM cnt
  WINDOW wo AS (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
sc AS (
  SELECT x AS split_value, n_l, nn - n_l AS n_r,
         (1000000::HUGEINT *
            ((n_l::HUGEINT * n_l::HUGEINT - p_l::HUGEINT * p_l::HUGEINT
              - (n_l - p_l)::HUGEINT * (n_l - p_l)::HUGEINT)
               * (nn - n_l)::HUGEINT
             + ((nn - n_l)::HUGEINT * (nn - n_l)::HUGEINT
                - (pp - p_l)::HUGEINT * (pp - p_l)::HUGEINT
                - ((nn - n_l) - (pp - p_l))::HUGEINT
                  * ((nn - n_l) - (pp - p_l))::HUGEINT)
               * n_l::HUGEINT))
         // (n_l::HUGEINT * (nn - n_l)::HUGEINT * nn::HUGEINT) AS s
  FROM cum WHERE nn - n_l > 0)
SELECT split_value, CAST(n_l AS BIGINT) AS n_left,
       CAST(n_r AS BIGINT) AS n_right, CAST(s AS BIGINT) AS score_u6
FROM sc ORDER BY s ASC, split_value ASC LIMIT 1
"""

# token-vote classifier confusion (operators/nb.py:
# token_vote_confusion): cross-multiplied rate votes, majority
# prediction, tie -> negative.
TOKEN_VOTE_CONFUSION_SQL = """
WITH toks AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
t2 AS (SELECT * FROM toks WHERE tok <> ''),
cnt AS (SELECT tok, sum(y)::BIGINT AS ca, sum(1 - y)::BIGINT AS cb
        FROM t2 GROUP BY 1),
tot AS (SELECT sum(ca)::BIGINT AS ta, sum(cb)::BIGINT AS tb FROM cnt),
votes AS (
  SELECT tok,
         CASE WHEN ca::HUGEINT * tb::HUGEINT > cb::HUGEINT * ta::HUGEINT
              THEN 1
              WHEN ca::HUGEINT * tb::HUGEINT < cb::HUGEINT * ta::HUGEINT
              THEN -1
              ELSE 0 END AS v
  FROM cnt, tot),
scored AS (
  SELECT t.doc_id, t.y,
         sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS va,
         sum(CASE WHEN v = -1 THEN 1 ELSE 0 END) AS vb
  FROM t2 t JOIN votes USING (tok) GROUP BY 1, 2)
SELECT CAST(CASE WHEN va > vb THEN 1 ELSE 0 END AS INTEGER) AS pred_pos,
       CAST(y AS INTEGER) AS actual_pos,
       count(*)::BIGINT AS n_docs
FROM scored GROUP BY 1, 2
"""

# growth accounting (plans/relational.py:daily_active_growth):
# DAU / new / cumulative-distinct via Σ n_new at day-bucket grain.
DAILY_ACTIVE_GROWTH_SQL = """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS epoch_day
  FROM events),
per_day AS (
  SELECT epoch_day, count(*)::BIGINT AS n_events FROM ev GROUP BY 1),
act AS (
  SELECT epoch_day, count(*)::BIGINT AS n_active
  FROM (SELECT DISTINCT epoch_day, user_id FROM ev) GROUP BY 1),
nw AS (
  SELECT epoch_day, count(*)::BIGINT AS n_new
  FROM (SELECT user_id, min(epoch_day) AS epoch_day FROM ev GROUP BY 1)
  GROUP BY 1)
SELECT p.epoch_day, p.n_events, a.n_active,
       coalesce(n.n_new, 0)::BIGINT AS n_new,
       CAST(sum(coalesce(n.n_new, 0))
              OVER (ORDER BY p.epoch_day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users
FROM per_day p
JOIN act a USING (epoch_day)
LEFT JOIN nw n USING (epoch_day)
"""

# forward as-of (plans/relational.py:click_next_purchase_fwd_asof):
# the PURCHASE_LAST_CLICK_ASOF window reversed — descending time,
# purchases sort before the click at equal ts, earliest id on ties.
CLICK_NEXT_PURCHASE_FWD_SQL = """
WITH tagged AS (
  SELECT user_id, epoch_us(ts) AS tu, event_id, 1 AS side
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, epoch_us(ts), event_id, 0
  FROM events WHERE event_type = 'purchase'),
carried AS (
  SELECT *,
    last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
        OVER w AS np_id,
    last_value(CASE WHEN side = 0 THEN tu END IGNORE NULLS)
        OVER w AS np_tu
  FROM tagged
  WINDOW w AS (PARTITION BY user_id
               ORDER BY tu DESC, side ASC, event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, event_id, tu AS ts_us,
       np_id AS next_purchase_id, np_tu AS next_purchase_ts_us,
       np_tu - tu AS lag_us
FROM carried WHERE side = 1
"""


# bounded truss peel (operators/graph.py:truss_peel): two unrolled
# support-recount rounds, k-2 = 1, over the min_weight=2 graph.
COPURCHASE_TRUSS_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ew AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       FROM ew),
t1 AS (
  SELECT ab.a AS x, ab.b AS y, bc.b AS z
  FROM e0 ab
  JOIN e0 bc ON bc.a = ab.b
  JOIN e0 ac ON ac.a = ab.a AND ac.b = bc.b),
s1 AS (
  SELECT a, b, count(*)::BIGINT AS support FROM (
    SELECT x AS a, y AS b FROM t1
    UNION ALL SELECT x, z FROM t1
    UNION ALL SELECT y, z FROM t1)
  GROUP BY 1, 2 HAVING count(*) >= 1),
e1 AS (SELECT a, b FROM s1),
t2 AS (
  SELECT ab.a AS x, ab.b AS y, bc.b AS z
  FROM e1 ab
  JOIN e1 bc ON bc.a = ab.b
  JOIN e1 ac ON ac.a = ab.a AND ac.b = bc.b),
s2 AS (
  SELECT a, b, count(*)::BIGINT AS support FROM (
    SELECT x AS a, y AS b FROM t2
    UNION ALL SELECT x, z FROM t2
    UNION ALL SELECT y, z FROM t2)
  GROUP BY 1, 2 HAVING count(*) >= 1)
SELECT a, b, support FROM s2
"""

# Lindley balance (operators/timeseries.py:floored_running_balance):
# reflection closed form b_k = S_k - min(0, min prefix S).
USER_CREDIT_BALANCE_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CASE WHEN event_type = 'purchase'
              THEN -CAST(round(value * 1000) AS BIGINT)
              ELSE CAST(round(value * 1000) AS BIGINT) END AS delta
  FROM events),
s AS (
  SELECT *, sum(delta) OVER w AS s1 FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
b AS (
  SELECT user_id, ts_us, event_id, delta,
         CAST(s1 - min(least(s1, 0)) OVER w AS BIGINT) AS balance
  FROM s
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, ts_us, event_id, delta, balance,
       CAST(max(balance) OVER w AS BIGINT) AS high_water
FROM b
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

# centroid affinity (operators/graph.py:centroid_affinity): floor-mean
# milli-unit centroids (shifted DIV == floor //), sign-split cos² ppm.
LABEL_CENTROID_AFFINITY_SQL = """
WITH c0 AS (
  SELECT label AS g,
         unnest(range(1, len(embedding) + 1)) AS idx,
         unnest(embedding) AS v
  FROM embeddings),
q AS (SELECT g, idx, CAST(round(v * 1000.0) AS BIGINT) AS v3 FROM c0),
comp AS (
  SELECT g, idx, sum(v3)::BIGINT AS s, count(*)::BIGINT AS n
  FROM q GROUP BY 1, 2),
cent AS (SELECT g, idx, (s + 2000 * n) // n - 2000 AS m FROM comp),
pair AS (
  SELECT a.g AS g_a, b.g AS g_b, sum(a.m * b.m)::BIGINT AS dot
  FROM cent a JOIN cent b USING (idx)
  WHERE a.g < b.g GROUP BY 1, 2),
norms AS (SELECT g, sum(m * m)::BIGINT AS n2 FROM cent GROUP BY 1)
SELECT p.g_a, p.g_b,
       CAST(CASE WHEN dot > 0 THEN 1 WHEN dot < 0 THEN -1
                 ELSE 0 END AS INTEGER) AS dot_sign,
       CASE WHEN na.n2 > 0 AND nb.n2 > 0 THEN
         CAST((1000000::HUGEINT * dot::HUGEINT * dot::HUGEINT)
              // (na.n2::HUGEINT * nb.n2::HUGEINT) AS BIGINT)
       END AS cos2_ppm
FROM pair p
JOIN norms na ON na.g = p.g_a
JOIN norms nb ON nb.g = p.g_b
"""


# deletion-neighborhood set join (operators/setjoin.py): the oracle
# verifies the RESULT the direct way — pairs sharing >= 1 item within
# one deletion per side (blocking is a plan property).
ORDER_BASKET_NEAR_DUPS_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS id, l_partkey AS it FROM lineitem),
sz AS (SELECT id, count(*)::BIGINT AS n FROM items GROUP BY 1),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_common
  FROM items a JOIN items b ON a.it = b.it AND a.id < b.id
  GROUP BY 1, 2)
SELECT c.id_a, c.id_b,
       CAST(sa.n AS INTEGER) AS size_a, CAST(sb.n AS INTEGER) AS size_b,
       CAST(c.n_common AS INTEGER) AS n_common,
       CAST(sa.n + sb.n - 2 * c.n_common AS INTEGER) AS sym_diff
FROM common c
JOIN sz sa ON sa.id = c.id_a
JOIN sz sb ON sb.id = c.id_b
WHERE sa.n - c.n_common <= 1 AND sb.n - c.n_common <= 1
"""

# gaps-and-islands run stats (operators/timeseries.py:
# above_mean_run_stats): rn-difference islands per (type, user),
# cross-multiplied above-mean predicate.
EVENT_RUN_STATS_SQL = """
WITH ev AS (
  SELECT event_type, user_id, epoch_us(ts) AS tu, event_id,
         CAST(round(value * 1000000) AS BIGINT) AS v6
  FROM events),
tot AS (
  SELECT event_type, count(*)::BIGINT AS n, sum(v6)::BIGINT AS s
  FROM ev GROUP BY 1),
flagged AS (
  SELECT e.event_type, e.user_id, e.tu, e.event_id,
         e.v6::HUGEINT * t.n::HUGEINT > t.s::HUGEINT AS above
  FROM ev e JOIN tot t USING (event_type)),
isl AS (
  SELECT event_type, user_id, above,
         row_number() OVER (PARTITION BY event_type, user_id
                            ORDER BY tu, event_id)
         - row_number() OVER (PARTITION BY event_type, user_id, above
                              ORDER BY tu, event_id) AS island
  FROM flagged),
runs AS (
  SELECT event_type, user_id, island, count(*)::BIGINT AS len
  FROM isl WHERE above GROUP BY 1, 2, 3)
SELECT event_type, count(*)::BIGINT AS n_runs,
       max(len)::BIGINT AS max_run_len,
       sum(CASE WHEN len >= 3 THEN 1 ELSE 0 END)::BIGINT AS n_runs_ge3
FROM runs GROUP BY 1
"""

# Pareto concentration (revenue_pareto in queries/stats.py):
# customers to 80% of revenue, cross-multiplied threshold.
REVENUE_PARETO_SQL = """
WITH cr AS (
  SELECT o_custkey,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS rev_c
  FROM orders GROUP BY 1),
cs AS (
  SELECT *, sum(rev_c) OVER (ORDER BY rev_c DESC, o_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
  FROM cr),
tot AS (SELECT sum(rev_c)::BIGINT AS t, count(*)::BIGINT AS n FROM cr),
agg AS (
  SELECT n,
         CAST(sum(CASE WHEN 5::HUGEINT * cum_c::HUGEINT
                            < 4::HUGEINT * t::HUGEINT
                       THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_to_80pct
  FROM cs, tot GROUP BY n)
SELECT n AS n_customers, n_to_80pct,
       CAST((1000000 * n_to_80pct) // n AS BIGINT) AS pareto_ppm
FROM agg
"""


# sweep-line peak concurrency (operators/timeseries.py:
# peak_concurrency): +1/-1 boundaries, ends before starts at equal
# instants, earliest peak instant.
PEAK_CONCURRENCY_SQL = """
WITH bnd AS (
  SELECT event_type, epoch_us(ts) AS t, 1 AS delta, event_id AS id
  FROM events
  UNION ALL
  SELECT event_type, epoch_us(ts) + 300000000, -1, event_id
  FROM events),
c AS (
  SELECT event_type, t, delta,
         sum(delta) OVER (PARTITION BY event_type
                          ORDER BY t, delta, id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
  FROM bnd),
p AS (SELECT event_type, max(cum)::BIGINT AS peak_concurrency
      FROM c GROUP BY 1)
SELECT c.event_type, p.peak_concurrency,
       CAST(min(c.t) AS BIGINT) AS peak_t_us
FROM c JOIN p ON p.event_type = c.event_type
             AND c.cum = p.peak_concurrency
GROUP BY 1, 2
"""

# Gini-Simpson behavioral diversity (user_behavior_diversity in
# queries/stats.py): 1e6*(n^2 - sum c^2) // n^2, log-free.
USER_BEHAVIOR_DIVERSITY_SQL = """
WITH c AS (
  SELECT user_id, event_type, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2),
a AS (
  SELECT user_id, sum(c)::BIGINT AS n_events,
         sum(c * c)::BIGINT AS sq
  FROM c GROUP BY 1)
SELECT user_id, n_events,
       CAST((1000000 * (n_events * n_events - sq))
            // (n_events * n_events) AS BIGINT) AS diversity_ppm
FROM a
"""


# mutual k-NN pairs (the SemDeDup/cluster-merge primitive composed
# from item_item_jaccard's top-5 lists): pairs in EACH OTHER'S top-k.
MUTUAL_KNN_PAIRS_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
deg AS (SELECT l_partkey, count(*)::BIGINT AS d FROM items GROUP BY 1),
cooc AS (
  SELECT a.l_partkey AS item_id, b.l_partkey AS rec_id,
         count(*)::BIGINT AS c
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
sc AS (
  SELECT item_id, rec_id,
         (1000000 * c) // (da.d + db.d - c) AS sim_ppm
  FROM cooc
  JOIN deg da ON da.l_partkey = cooc.item_id
  JOIN deg db ON db.l_partkey = cooc.rec_id),
topk AS (
  SELECT item_id, rec_id, CAST(sim_ppm AS BIGINT) AS sim_ppm
  FROM (SELECT *, row_number() OVER (PARTITION BY item_id
            ORDER BY sim_ppm DESC, rec_id) AS rn FROM sc)
  WHERE rn <= 5)
SELECT a.item_id AS item_a, a.rec_id AS item_b, a.sim_ppm
FROM topk a
JOIN topk b ON b.item_id = a.rec_id AND b.rec_id = a.item_id
WHERE a.item_id < a.rec_id
"""


# --------------------------------------------------------------------------
# Round-8 wave 2: exact ranking-quality eval + calibration + KN smoothing
# --------------------------------------------------------------------------

# exact ROC-AUC of the trained perceptron's integer scores vs lang='en'
# (operators/evalstats.py:auc_exact): Mann-Whitney identity evaluated at
# distinct-score grain — pairs_gt counts (pos, neg) score pairs with
# pos > neg via a cumulative negative count, pairs_eq the exact ties;
# ppm doubles the numerator so the half-tie term stays integral.
CLASSIFIER_AUC_SQL = (
    "WITH "
    + _PERC_PRELUDE
    + """,
auc_sc AS (SELECT c.doc_id, sum(w3.w * c.c) AS score
           FROM cnt c JOIN w3 USING (bucket) GROUP BY 1),
auc_p AS (SELECT coalesce(sc.score, 0) AS s,
                 CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents d LEFT JOIN auc_sc sc USING (doc_id)),
auc_g AS (SELECT s, sum(y)::BIGINT AS pos, sum(1 - y)::BIGINT AS neg
          FROM auc_p GROUP BY s),
auc_c AS (SELECT s, pos, neg,
                 coalesce(sum(neg) OVER (ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS neg_below
          FROM auc_g),
auc_m AS (SELECT sum(pos)::BIGINT AS n_pos, sum(neg)::BIGINT AS n_neg,
                 sum(pos * neg_below)::BIGINT AS pairs_gt,
                 sum(pos * neg)::BIGINT AS pairs_eq
          FROM auc_c)
SELECT n_pos, n_neg, pairs_gt, pairs_eq,
       CAST((1000000::HUGEINT * (2 * pairs_gt + pairs_eq))
            // (2::HUGEINT * n_pos * n_neg) AS BIGINT) AS auc_ppm
FROM auc_m
"""
)

# reliability deciles of the same scores (operators/evalstats.py:
# score_deciles): ANSI NTILE(10) under the total order (score, doc_id)
# — per-bucket volume, positive count/rate, integer score span.
CLASSIFIER_DECILES_SQL = (
    "WITH "
    + _PERC_PRELUDE
    + """,
dc_sc AS (SELECT c.doc_id, sum(w3.w * c.c) AS score
          FROM cnt c JOIN w3 USING (bucket) GROUP BY 1),
dc_p AS (SELECT d.doc_id, coalesce(sc.score, 0) AS s,
                CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         FROM documents d LEFT JOIN dc_sc sc USING (doc_id)),
dc_b AS (SELECT s, y,
                ntile(10) OVER (ORDER BY s, doc_id) AS bucket
         FROM dc_p)
SELECT CAST(bucket AS INTEGER) AS bucket,
       count(*)::BIGINT AS n_rows,
       sum(y)::BIGINT AS n_pos,
       CAST((1000000 * sum(y)) // count(*) AS BIGINT) AS pos_ppm,
       CAST(min(s) AS BIGINT) AS score_min,
       CAST(max(s) AS BIGINT) AS score_max
FROM dc_b GROUP BY bucket
"""
)

# interpolated Kneser-Ney bigram probabilities, D = 3/4, observed
# bigrams, corpus top-50 by count (operators/lm.py:
# kneser_ney_bigram_top): integer rational lifted by the common
# denominator 4*c(a)*N1p(..); continuation counts at bigram-TYPE grain.
KNESER_NEY_SQL = """
WITH kn_toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents),
kn_pairs AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk)),
                i -> struct_pack(a := tk[i], b := tk[i+1]))) AS p
  FROM kn_toked),
kn_bg AS (SELECT p.a AS a, p.b AS b FROM kn_pairs),
kn_c12 AS (SELECT a, b, count(*)::BIGINT AS cab FROM kn_bg GROUP BY a, b),
kn_c1 AS (SELECT a, sum(cab)::BIGINT AS ca,
                 count(*)::BIGINT AS n_follow
          FROM kn_c12 GROUP BY a),
kn_ct AS (SELECT b, count(*)::BIGINT AS cont_b FROM kn_c12 GROUP BY b),
kn_tt AS (SELECT count(*)::HUGEINT AS nbt FROM kn_c12)
SELECT a, b, cab, ca, n_follow, cont_b,
       CAST((1000000::HUGEINT
             * ((4 * cab - 3)::HUGEINT * nbt
                + 3::HUGEINT * n_follow * cont_b))
            // (4::HUGEINT * ca * nbt) AS BIGINT) AS pkn_ppm
FROM kn_c12 JOIN kn_c1 USING (a) JOIN kn_ct USING (b) CROSS JOIN kn_tt
ORDER BY cab DESC, a ASC, b ASC
LIMIT 50
"""

# UniMax allocation over document sources (operators/sampling.py:
# unimax_alloc, budget 700, max 2 epochs): capped prefix by running
# AND of cap_i*(n-i+1) <= B - cum_prev under (count ASC, name ASC);
# uncapped remainder split by largest-remainder integer apportionment.
UNIMAX_SQL = """
WITH um_cnt AS (
  SELECT source, count(*)::BIGINT AS n_rows FROM documents GROUP BY source),
um_s AS (
  SELECT source, n_rows, 2 * n_rows AS cap,
         row_number() OVER (ORDER BY n_rows, source) AS i,
         count(*) OVER () AS n,
         coalesce(sum(2 * n_rows) OVER (ORDER BY n_rows, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum_prev
  FROM um_cnt),
um_c AS (
  SELECT *, CASE WHEN cap * (n - i + 1) <= 700 - cum_prev
                 THEN 1 ELSE 0 END AS cond
  FROM um_s),
um_cc AS (
  SELECT *, min(cond) OVER (ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS is_capped
  FROM um_c),
um_t AS (
  SELECT *, sum(is_capped) OVER () AS t_capped,
         sum(is_capped * cap) OVER () AS cap_sum
  FROM um_cc),
um_a AS (
  SELECT source, n_rows, cap,
         CASE WHEN is_capped = 1 THEN cap
              WHEN n - t_capped <= 0 THEN cap
              ELSE (700 - cap_sum) // (n - t_capped)
                   + (CASE WHEN (i - t_capped)
                               <= (700 - cap_sum) % (n - t_capped)
                           THEN 1 ELSE 0 END)
         END AS alloc
  FROM um_t)
SELECT source, n_rows, CAST(cap AS BIGINT) AS cap,
       CAST(alloc AS BIGINT) AS alloc,
       CAST((1000000 * alloc) // n_rows AS BIGINT) AS epochs_ppm
FROM um_a
"""

# cross-source quantile normalization of the bigram-LM doc scores
# (operators/calibrate.py:quantile_normalize over lm_score): each
# row's score replaced by the GLOBAL score at its within-source
# quantile — target global rank ceil(r*N/n_s) by integer arithmetic.
QUANTILE_NORM_SQL = f"""
WITH qn_s AS ({LM_SCORE_SQL}),
qn_j AS (SELECT d.doc_id, d.source, s.logprob_u6
         FROM qn_s s JOIN documents d USING (doc_id)),
qn_l AS (SELECT doc_id, source, logprob_u6,
                row_number() OVER (PARTITION BY source
                    ORDER BY logprob_u6, doc_id)::BIGINT AS src_rank,
                count(*) OVER (PARTITION BY source)::BIGINT AS n_s,
                count(*) OVER ()::BIGINT AS n_tot,
                row_number() OVER (ORDER BY logprob_u6, doc_id)::BIGINT
                    AS g
         FROM qn_j),
qn_lk AS (SELECT g AS target, logprob_u6 AS norm_logprob_u6 FROM qn_l)
SELECT l.doc_id, l.source, l.logprob_u6, l.src_rank, k.norm_logprob_u6
FROM qn_l l JOIN qn_lk k
  ON (l.src_rank * l.n_tot + l.n_s - 1) // l.n_s = k.target
"""

# per-source (chosen, rejected) preference pairs from the bigram-LM
# scores (operators/calibrate.py:preference_pairs): argmax/argmin per
# source under (score, doc_id ASC) with the exact integer margin.
PREFERENCE_PAIRS_SQL = f"""
WITH pp_s AS ({LM_SCORE_SQL}),
pp_j AS (SELECT d.doc_id, d.source, s.logprob_u6
         FROM pp_s s JOIN documents d USING (doc_id)),
pp_b AS (SELECT source, doc_id, logprob_u6,
                row_number() OVER (PARTITION BY source
                    ORDER BY logprob_u6 DESC, doc_id) AS rb,
                row_number() OVER (PARTITION BY source
                    ORDER BY logprob_u6 ASC, doc_id) AS rw
         FROM pp_j)
SELECT b.source, b.doc_id AS chosen_id, w.doc_id AS rejected_id,
       b.logprob_u6 AS chosen_logprob_u6,
       w.logprob_u6 AS rejected_logprob_u6,
       CAST(b.logprob_u6 - w.logprob_u6 AS BIGINT) AS margin
FROM pp_b b JOIN pp_b w USING (source)
WHERE b.rb = 1 AND w.rw = 1 AND b.doc_id <> w.doc_id
"""


def wordpiece_stage_ctes(
    n_merges: int = 8, src: str = "documents"
) -> list[str]:
    """The wordpiece training trajectory as a CTE-stage list (v0 +
    per-round sy/p/u/m/v chains) — shared by the train oracle and the
    encode oracle (oracles_r9.wordpiece_token_counts_sql), which
    appends its own greedy-match rounds after ``m1..m{n}``."""
    s31 = chr(31)
    stages = [
        f"""v0 AS MATERIALIZED (
  SELECT count(*)::BIGINT AS freq,
         '{s31}' || array_to_string(
             list_append(regexp_split_to_array(w, ''), '</w>'),
             '{s31}{s31}') || '{s31}' AS enc
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM {src})
  WHERE w <> '' GROUP BY w)"""
    ]
    for k in range(1, n_merges + 1):
        stages.append(f"""sy{k} AS MATERIALIZED (
  SELECT freq, string_split(trim(enc, '{s31}'), '{s31}{s31}') AS sy
  FROM v{k - 1}),
p{k} AS MATERIALIZED (
  SELECT pr.l, pr.r, sum(freq)::BIGINT AS n FROM (
    SELECT freq,
           unnest(list_transform(range(1, len(sy)),
                  i -> struct_pack(l := sy[i], r := sy[i + 1]))) AS pr
    FROM sy{k})
  GROUP BY 1, 2),
u{k} AS MATERIALIZED (
  SELECT s, sum(freq)::BIGINT AS c FROM (
    SELECT freq, unnest(sy) AS s FROM sy{k})
  GROUP BY 1),
m{k} AS MATERIALIZED (
  SELECT p.l, p.r
  FROM p{k} p
  JOIN u{k} ul ON ul.s = p.l
  JOIN u{k} ur ON ur.s = p.r
  ORDER BY (1000000000000::HUGEINT * p.n)
               // (ul.c::HUGEINT * ur.c) DESC,
           p.l ASC, p.r ASC
  LIMIT 1),
v{k} AS MATERIALIZED (
  SELECT freq,
         replace(enc, '{s31}' || m.l || '{s31}{s31}' || m.r || '{s31}',
                 '{s31}' || m.l || m.r || '{s31}') AS enc
  FROM v{k - 1} CROSS JOIN m{k} m)""")
    return stages


def wordpiece_train_sql(n_merges: int = 8, src: str = "documents") -> str:
    """DuckDB replica of ``operators/bpe.wordpiece_train``: the
    bpe_train_sql trajectory with the likelihood-ratio argmax — per
    round, adjacent-pair counts AND per-position symbol marginals over
    the evolving dictionary, quantized integer score
    (10¹²·n) // (c(l)·c(r)) in HUGEINT, winner threaded into the next
    round's replace via CROSS JOIN. No data-dependent literals.
    Every CTE is MATERIALIZED: sy{k} is referenced twice per round
    (pair counts AND marginals), and inlining makes the v-chain
    expansion 3^k — DuckDB ran out of file handles at k=8."""
    stages = wordpiece_stage_ctes(n_merges, src)
    finals = " UNION ALL ".join(
        f'SELECT {k} AS step, l AS "left", r AS "right" FROM m{k}'
        for k in range(1, n_merges + 1)
    )
    return (
        "WITH "
        + ",\n".join(stages)
        + '\nSELECT CAST(step AS INTEGER) AS step, "left", "right"'
        + f" FROM ({finals})"
    )


# per-document novelty gain (operators/textstats-adjacent, composed in
# queries/pretrain.py): the fraction of a doc's distinct 3-gram shingles
# that are corpus-UNIQUE (df = 1) — the marginal-diversity signal a
# data-selection pass ranks on (a doc whose shingles all exist
# elsewhere adds nothing a dedup pass wouldn't remove).
DOC_NOVELTY_GAIN_SQL = f"""
WITH {_sh_over("documents", 3, "ng_sh").strip().lstrip("WITH").strip()},
ng_df AS (SELECT shingle, count(*)::BIGINT AS df
          FROM ng_sh GROUP BY shingle),
ng_doc AS (
  SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
         sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique
  FROM ng_sh s JOIN ng_df f USING (shingle) GROUP BY s.doc_id)
SELECT d.doc_id,
       coalesce(g.n_shingles, 0) AS n_shingles,
       coalesce(g.n_unique, 0) AS n_unique,
       CAST(CASE WHEN coalesce(g.n_shingles, 0) = 0 THEN 0
            ELSE (1000000 * g.n_unique) // g.n_shingles END AS BIGINT)
           AS novelty_ppm
FROM documents d LEFT JOIN ng_doc g USING (doc_id)
"""


# tokenizer-budget sizing curve (queries/pretrain.py:_q_vocab_coverage_curve):
# corpus token coverage of the top-k vocab under the total order
# (freq DESC, token ASC) at four fixed budgets.
VOCAB_COVERAGE_SQL = """
WITH vc_t AS (
  SELECT unnest(list_filter(
             string_split_regex(trim(lower(text)), '\\s+'),
             x -> x <> '')) AS tok
  FROM documents),
vc_f AS (SELECT tok, count(*)::BIGINT AS freq FROM vc_t GROUP BY tok),
vc_r AS (
  SELECT tok, freq,
         row_number() OVER (ORDER BY freq DESC, tok ASC)::BIGINT AS r,
         sum(freq) OVER (ORDER BY freq DESC, tok ASC
             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
  FROM vc_f),
vc_tot AS (SELECT sum(freq)::BIGINT AS total,
                  count(*)::BIGINT AS n_types FROM vc_f),
vc_k(vocab_k) AS (SELECT * FROM (VALUES (64), (256), (1024), (4096)))
SELECT k.vocab_k,
       CAST(least(k.vocab_k, t.n_types) AS BIGINT) AS n_types_used,
       r.cum AS covered, t.total,
       CAST((1000000 * r.cum) // t.total AS BIGINT) AS coverage_ppm
FROM vc_k k CROSS JOIN vc_tot t
JOIN vc_r r ON r.r = least(k.vocab_k, t.n_types)
"""

# per-(lang, source) LM quality report
# (queries/pretrain.py:_q_lm_slice_report): bigram mass + mean per-bigram NLL in
# micro-units, numerator negated BEFORE the integer division so both
# engines divide positives.
LM_SLICE_REPORT_SQL = f"""
WITH sr_s AS ({LM_SCORE_SQL}),
sr_j AS (SELECT d.lang, d.source, s.n_bigrams, s.logprob_u6
         FROM sr_s s JOIN documents d USING (doc_id))
SELECT lang, source,
       count(*)::BIGINT AS n_docs,
       sum(n_bigrams)::BIGINT AS total_bigrams,
       sum(logprob_u6)::BIGINT AS sum_logprob_u6,
       CAST(CASE WHEN sum(n_bigrams) = 0 THEN 0
            ELSE (-sum(logprob_u6)) // sum(n_bigrams) END AS BIGINT)
           AS mean_nll_u6
FROM sr_j GROUP BY lang, source
"""


# per-source duplication scorecard
# (queries/pretrain.py:_q_dedup_rate_by_source): exact-dup = digest multiplicity > 1;
# near-dup = endpoint of any LSH-candidate pair verified at
# Jaccard >= 0.5 (the ngram_jaccard_dups pipeline, membership only).
DEDUP_RATE_BY_SOURCE_SQL = f"""
WITH {_SHINGLES}, {_SIG}, {_BANDS}, {_PAIRS},
dr_sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
dr_inter AS (
  SELECT p.id_a, p.id_b, count(*) AS n_inter
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2),
dr_vp AS (
  SELECT i.id_a, i.id_b
  FROM dr_inter i
  JOIN dr_sizes za ON za.doc_id = i.id_a
  JOIN dr_sizes zb ON zb.doc_id = i.id_b
  WHERE round(i.n_inter / (za.n_sh + zb.n_sh - i.n_inter), 4) >= 0.5),
dr_near AS (
  SELECT DISTINCT doc_id FROM (
    SELECT id_a AS doc_id FROM dr_vp
    UNION ALL SELECT id_b AS doc_id FROM dr_vp)),
dr_dig AS (SELECT doc_id, source, md5(text) AS d FROM documents),
dr_sz AS (SELECT d, count(*) AS n FROM dr_dig GROUP BY d)
SELECT g.source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN z.n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_exact_dup,
       sum(CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_near_dup,
       CAST((1000000 * sum(CASE WHEN z.n > 1 THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS exact_ppm,
       CAST((1000000 * sum(CASE WHEN nr.doc_id IS NOT NULL
                                THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS near_ppm
FROM dr_dig g
JOIN dr_sz z USING (d)
LEFT JOIN dr_near nr USING (doc_id)
GROUP BY g.source
"""
