"""DuckDB oracle SQL — the ANSI-SQL ground truth for every checkable
query in ``__spark_entry__.queries()``; each query names its oracle in
its ``@query(oracle=...)`` declaration (``queries/``).

These strings mirror, fragment by fragment, the Spark plans in
``plans/standins.py`` / ``plans/knowledge.py`` and the operators in
``operators/``. Regex notes: DuckDB (RE2) needs the ``'g'`` flag for
global replacement (Spark's ``regexp_replace`` is always global), and
``\\w`` is ASCII in both RE2 and Java, which is equivalent to Spark's
``[\\p{L}\\p{N}_]`` on the ASCII test corpus.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Stand-in tables (mirror plans/standins.py — keep in lockstep)
# ---------------------------------------------------------------------------

A_RAW_SQL = """
SELECT 'M' || CAST(o.o_custkey % 20 AS VARCHAR) || 'EX' AS mawb_no,
       CASE WHEN l.l_orderkey % 3 = 0
            THEN 'h-' || CAST(l.l_orderkey AS VARCHAR) || ' '
            ELSE 'H' || CAST(l.l_orderkey AS VARCHAR) END AS hawb_no,
       row_number() OVER (PARTITION BY l.l_orderkey
                          ORDER BY l.l_linenumber, p.p_name) AS item_no,
       CASE WHEN l.l_linenumber = 1 THEN 'X/' || p.p_name
            ELSE p.p_name END AS description_original
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
"""

B_RAW_SQL = """
SELECT 'm' || CAST(o.o_custkey % 20 AS VARCHAR) || 'ex' AS mawb_no,
       'h' || CAST(l.l_orderkey AS VARCHAR) AS hawb_no,
       row_number() OVER (PARTITION BY l.l_orderkey
                          ORDER BY l.l_linenumber DESC, p.p_brand, p.p_type) AS item_sequence,
       p.p_brand AS description_official,
       p.p_type AS ccc_code
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_linenumber <= 5
"""


def link_key_sql(mawb: str, hawb: str) -> str:
    """OP-JOIN-KEY: scrub+upper both parts, join with '_'."""
    return (
        f"upper(regexp_replace({mawb}, '[\\s/-]', '', 'g')) || '_' || "
        f"upper(regexp_replace({hawb}, '[\\s/-]', '', 'g'))"
    )


def normalize_text_sql(expr: str) -> str:
    """normalize_text (ASCII path): upper → after-last-'/' → depunct →
    squeeze → trim; NULL → ''."""
    last = f"string_split(upper({expr}), '/')[-1]"
    depunct = f"regexp_replace({last}, '[^\\w\\s]', ' ', 'g')"
    squeeze = f"trim(regexp_replace({depunct}, '\\s+', ' ', 'g'))"
    return f"coalesce({squeeze}, '')"


# Shared CTE prologue for the link-and-vote family.
_LINK_PROLOGUE = f"""
WITH a_raw AS ({A_RAW_SQL}),
b_raw AS ({B_RAW_SQL}),
a AS (SELECT {link_key_sql('mawb_no', 'hawb_no')} AS link_key,
             item_no,
             {normalize_text_sql('description_original')} AS original_description
      FROM a_raw
      WHERE mawb_no IS NOT NULL AND hawb_no IS NOT NULL
        AND description_original IS NOT NULL),
b AS (SELECT {link_key_sql('mawb_no', 'hawb_no')} AS link_key,
             item_sequence, description_official, ccc_code
      FROM b_raw
      WHERE mawb_no IS NOT NULL AND hawb_no IS NOT NULL),
valid AS (SELECT ca.link_key
          FROM (SELECT link_key, count(*) AS c FROM a GROUP BY 1) ca
          JOIN (SELECT link_key, count(*) AS c FROM b GROUP BY 1) cb
            USING (link_key)
          WHERE ca.c = cb.c),
pa AS (SELECT link_key,
              row_number() OVER (PARTITION BY link_key ORDER BY item_no) AS pos,
              original_description
       FROM a WHERE link_key IN (SELECT link_key FROM valid)),
pb AS (SELECT link_key,
              row_number() OVER (PARTITION BY link_key ORDER BY item_sequence) AS pos,
              description_official, ccc_code
       FROM b WHERE link_key IN (SELECT link_key FROM valid)),
aligned AS (SELECT pa.link_key, pa.pos, pa.original_description,
                   pb.description_official, pb.ccc_code
            FROM pa JOIN pb USING (link_key, pos)),
votes AS (SELECT original_description, description_official AS official_description,
                 ccc_code, count(*) AS frequency
          FROM aligned
          WHERE original_description <> ''
          GROUP BY 1, 2, 3)
"""

KNOWLEDGE_EXTRACTION_SQL = (
    _LINK_PROLOGUE
    + """
SELECT original_description, official_description, ccc_code, frequency
FROM (SELECT *, row_number() OVER (PARTITION BY original_description
            ORDER BY frequency DESC, official_description, ccc_code) AS rn
      FROM votes)
WHERE rn = 1
"""
)

LINK_KEY_DERIVE_SQL = f"""
WITH a_raw AS ({A_RAW_SQL})
SELECT mawb_no, hawb_no, item_no,
       {link_key_sql('mawb_no', 'hawb_no')} AS link_key
FROM a_raw
"""

COUNT_MATCH_KEYS_SQL = _LINK_PROLOGUE + "SELECT link_key FROM valid"

POSITIONAL_ALIGN_SQL = (
    _LINK_PROLOGUE
    + """
SELECT link_key, pos, original_description, description_official, ccc_code
FROM aligned
"""
)

VOTE_COUNTS_SQL = (
    _LINK_PROLOGUE
    + """
SELECT original_description, official_description, ccc_code, frequency
FROM votes
"""
)

KEY_INTERSECTION_SQL = (
    _LINK_PROLOGUE
    + """
SELECT link_key FROM a
INTERSECT
SELECT link_key FROM b
"""
)

NORMALIZE_TEXT_SQL = f"""
WITH a_raw AS ({A_RAW_SQL})
SELECT DISTINCT description_original,
       {normalize_text_sql('description_original')} AS normalized
FROM a_raw
"""

# EXCEPT set-op sibling of KEY_INTERSECTION_SQL: declared link keys
# with no official counterpart (EXCEPT is distinct in ANSI, matching
# DataFrame.subtract)
UNMATCHED_DECLARED_KEYS_SQL = (
    _LINK_PROLOGUE
    + """
SELECT link_key FROM a
EXCEPT
SELECT link_key FROM b
"""
)
