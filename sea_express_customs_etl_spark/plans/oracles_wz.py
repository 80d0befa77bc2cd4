"""DuckDB oracle SQL for the wave-Z queries (KMV sketch, decile
migration, difference-in-differences). Portability rules as
everywhere: md5 as the only hash, HUGEINT through every product that
can pass int64, `//` only on nonnegative operands, deterministic
tie-breaks.
"""

from __future__ import annotations

# kmv_distinct (operators/kmv.py): k = 16 smallest 60-bit md5 values
# of the distinct (event_type, user_id) keys; estimator
# (k-1)·2^60 // h_(k) — HUGEINT (15·2^60 passes int64).
KMV_DISTINCT_USERS_SQL = """
WITH d AS (SELECT DISTINCT event_type AS g, user_id AS u FROM events),
h AS (
  SELECT g, u,
         ('0x' || substring(md5('kmv|' || u), 1, 15))::BIGINT AS hv
  FROM d),
r AS (
  SELECT g, hv,
         row_number() OVER (PARTITION BY g ORDER BY hv, u) AS rn
  FROM h)
SELECT g AS event_type,
       count(*)::BIGINT AS k_used,
       max(hv)::BIGINT AS kth_min_h,
       CAST(((count(*) - 1)::HUGEINT * 1152921504606846976) // max(hv)
            AS BIGINT) AS est_distinct
FROM r WHERE rn <= 16
GROUP BY 1
"""

# decile_migration (operators/deciles.py): 1995 → 1996 customer spend
# deciles over each year's full active population; bucket =
# ((rank-1)·10) // n — NTILE's remainder rules are never trusted.
CUSTOMER_DECILE_MIGRATION_SQL = """
WITH s AS (
  SELECT o_custkey AS c, year(o_orderdate) AS y,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sp
  FROM orders
  WHERE year(o_orderdate) IN (1995, 1996)
  GROUP BY 1, 2),
ra AS (
  SELECT c, row_number() OVER (ORDER BY sp DESC, c) - 1 AS r,
         count(*) OVER () AS n
  FROM s WHERE y = 1995),
rb AS (
  SELECT c, row_number() OVER (ORDER BY sp DESC, c) - 1 AS r,
         count(*) OVER () AS n
  FROM s WHERE y = 1996),
da AS (SELECT c, (r * 10) // n AS decile_from FROM ra),
db AS (SELECT c, (r * 10) // n AS decile_to FROM rb)
SELECT da.decile_from, db.decile_to, count(*)::BIGINT AS n_keys
FROM da JOIN db USING (c)
GROUP BY 1, 2
"""

# did_lift (operators/abtest.py): user-grain DiD — variants are the
# CUPED md5 halves, pre/post the 2024-01-16 split; equal user
# denominators pre/post so did = (Σy_T − Σx_T)/n_T − (Σy_C − Σx_C)/n_C
# carried as an exact numerator over n_T·n_C, computed in HUGEINT and
# emitted as BIGINT: with E events, U users and V = max |value|,
# |did_num| ≤ 100·V·E·U (8.4e12 at sf0.1; 1.8e9 observed) and
# did_den ≤ U²/4, both far inside int64 — and a cast that did
# overflow raises instead of wrapping.
DID_LIFT_SQL = """
WITH pu AS (
  SELECT user_id,
         coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                           THEN CAST(round(value * 100) AS BIGINT) END),
                  0) AS x,
         coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                           THEN CAST(round(value * 100) AS BIGINT) END),
                  0) AS y
  FROM events GROUP BY user_id
), pv AS (
  SELECT *,
         CASE WHEN substring(md5('did' || CAST(user_id AS VARCHAR)), 1, 8)
                   < '80000000'
              THEN 'control' ELSE 'treatment' END AS variant
  FROM pu
), v AS (
  SELECT variant, count(*)::BIGINT AS n_users,
         sum(x)::BIGINT AS sum_pre_c, sum(y)::BIGINT AS sum_post_c
  FROM pv GROUP BY variant
), t AS (SELECT * FROM v WHERE variant = 'treatment'),
   c AS (SELECT * FROM v WHERE variant = 'control')
SELECT t.n_users AS n_treat, c.n_users AS n_ctrl,
       t.sum_pre_c AS sum_pre_treat_c, t.sum_post_c AS sum_post_treat_c,
       c.sum_pre_c AS sum_pre_ctrl_c, c.sum_post_c AS sum_post_ctrl_c,
       ((t.sum_post_c::HUGEINT - t.sum_pre_c::HUGEINT) * c.n_users
         - (c.sum_post_c::HUGEINT - c.sum_pre_c::HUGEINT) * t.n_users
       )::BIGINT AS did_num,
       (t.n_users::HUGEINT * c.n_users::HUGEINT)::BIGINT AS did_den
FROM t, c
"""

# tree_depth2 (operators/stump.py): the stump's integer Gini score,
# reused at root and per-child grain; the ROOT WINNER is threaded
# through CTEs (trajectory discipline — never pasted literals).
_GINI_S = """
         (1000000::HUGEINT *
            ((n_l::HUGEINT * n_l::HUGEINT - p_l::HUGEINT * p_l::HUGEINT
              - (n_l - p_l)::HUGEINT * (n_l - p_l)::HUGEINT)
               * (nn - n_l)::HUGEINT
             + ((nn - n_l)::HUGEINT * (nn - n_l)::HUGEINT
                - (pp - p_l)::HUGEINT * (pp - p_l)::HUGEINT
                - ((nn - n_l) - (pp - p_l))::HUGEINT
                  * ((nn - n_l) - (pp - p_l))::HUGEINT)
               * n_l::HUGEINT))
         // (n_l::HUGEINT * (nn - n_l)::HUGEINT * nn::HUGEINT)
"""

TREE_DEPTH2_LENGTH_SQL = f"""
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
{_GINI_S} AS s
  FROM cum WHERE nn - n_l > 0),
r0 AS (SELECT * FROM sc ORDER BY s ASC, split_value ASC LIMIT 1),
sides AS (
  SELECT CASE WHEN b.x <= r0.split_value THEN 'left' ELSE 'right' END
             AS node,
         b.x, b.y
  FROM base b CROSS JOIN r0),
cnt2 AS (SELECT node, x, count(*)::BIGINT AS c, sum(y)::BIGINT AS p
         FROM sides GROUP BY 1, 2),
cum2 AS (
  SELECT node, x, sum(c) OVER wo AS n_l, sum(p) OVER wo AS p_l,
         sum(c) OVER wn AS nn, sum(p) OVER wn AS pp
  FROM cnt2
  WINDOW wo AS (PARTITION BY node ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY node)),
sc2 AS (
  SELECT node, x AS split_value, n_l, nn - n_l AS n_r,
{_GINI_S} AS s
  FROM cum2 WHERE nn - n_l > 0),
pick2 AS (
  SELECT *, row_number() OVER (PARTITION BY node
            ORDER BY s ASC, split_value ASC) AS rk
  FROM sc2)
SELECT 'root' AS node, split_value,
       CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right,
       CAST(s AS BIGINT) AS score_u6
FROM r0
UNION ALL
SELECT node, split_value, CAST(n_l AS BIGINT), CAST(n_r AS BIGINT),
       CAST(s AS BIGINT)
FROM pick2 WHERE rk = 1
"""
