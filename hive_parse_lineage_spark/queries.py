"""Declared query corpus — the executable operator surface (SURVEY.md §2b).

One query per operator the reference engine's SQL vocabulary covers
(reference AST handlers: ``LineParser.java:337-458`` dispatch — joins,
unions, subqueries, select expressions, predicates; see SURVEY §2a).
Each query is portable ANSI SQL that runs verbatim on both Spark SQL
and DuckDB (the correctness oracle): hash-match validated 43/43 at
survey time on sf0.01.

Portability rules baked into the texts (do not edit casually):
- total ORDER BY with explicit NULLS FIRST on nullable keys (Spark
  defaults NULLS FIRST, DuckDB NULLS LAST);
- every float output wrapped in ROUND(x, 2);
- FLOOR/CEIL cast to BIGINT (DuckDB returns double, Spark bigint);
- every computed column aliased identically for the column-name-sorted
  value-hash comparison.
"""

from __future__ import annotations

DECLARED_QUERIES: dict[str, str] = {
    # --- scan / project -------------------------------------------------
    "q01_scan_project": """
SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey
""",
    # --- filters --------------------------------------------------------
    "q02_filter_pred": """
SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS price FROM orders
WHERE o_totalprice > 100000 AND (o_orderstatus = 'F' OR o_orderstatus = 'O')
  AND o_orderpriority LIKE '1-%' AND o_custkey IN (1,2,3,4,5,6,7,8,9,10)
ORDER BY o_orderkey
""",
    "q03_null_semantics": """
SELECT o_orderkey, CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderstatus END AS st
FROM orders WHERE NULLIF(o_orderstatus, 'P') IS NOT NULL ORDER BY o_orderkey
""",
    # --- projection expressions ----------------------------------------
    # Money arithmetic in DECIMAL, as in q17: ROUND(double, 2) of the
    # double product lands on half-cent ties (74256.75 * 1.02 =
    # 75741.885) that Spark and DuckDB round to opposite neighbours.
    # The casts are exact (prices and rates are 2 dp), the decimal
    # product is exact, and both engines round it half away from zero.
    "q04_arithmetic": """
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1.00 - CAST(l_discount AS DECIMAL(3,2)))
                  * (1.00 + CAST(l_tax AS DECIMAL(3,2))), 2) AS DOUBLE) AS charge,
       l_orderkey % 5 AS m, ROUND(l_quantity / 2.0, 2) AS halfq,
       l_partkey + l_suppkey AS sm, l_partkey - l_suppkey AS df
FROM lineitem WHERE l_orderkey < 100 ORDER BY l_orderkey, l_linenumber
""",
    "q05_case_when": """
SELECT o_orderkey, CASE WHEN o_totalprice > 200000 THEN 'high'
                        WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS bucket
FROM orders ORDER BY o_orderkey
""",
    # --- scalar functions ----------------------------------------------
    "q06_string_funcs": """
SELECT c_custkey, UPPER(c_name) AS un, LOWER(c_mktsegment) AS lm, SUBSTRING(c_name, 1, 8) AS pre,
       LENGTH(c_name) AS ln, TRIM(c_mktsegment) AS tm, REPLACE(c_name, '#', '-') AS rep,
       CONCAT(c_name, '/', c_mktsegment) AS cc
FROM customer ORDER BY c_custkey
""",
    "q07_date_funcs": """
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d, EXTRACT(YEAR FROM o_orderdate) AS y,
       EXTRACT(MONTH FROM o_orderdate) AS m
FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey
""",
    "q08_math_funcs": """
SELECT p_partkey, ROUND(SQRT(p_retailprice), 2) AS sq, ABS(p_size - 25) AS ab,
       CAST(FLOOR(p_retailprice) AS BIGINT) AS fl, CAST(CEIL(p_retailprice) AS BIGINT) AS ce
FROM part ORDER BY p_partkey
""",
    # --- joins ----------------------------------------------------------
    "q09_join_inner": """
SELECT n.n_name, r.r_name FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
ORDER BY n.n_name
""",
    "q10_join_left": """
SELECT c.c_custkey, c.c_name, n.n_name FROM customer c LEFT JOIN nation n
ON c.c_nationkey = n.n_nationkey ORDER BY c.c_custkey
""",
    "q11_join_right": """
SELECT n.n_nationkey, c.c_custkey FROM customer c RIGHT JOIN nation n
ON c.c_nationkey = n.n_nationkey ORDER BY n.n_nationkey, c.c_custkey NULLS FIRST
""",
    "q12_join_full": """
SELECT s.s_suppkey, c.c_custkey FROM supplier s FULL OUTER JOIN customer c
ON s.s_nationkey = c.c_nationkey ORDER BY s.s_suppkey NULLS FIRST, c.c_custkey NULLS FIRST
""",
    "q13_join_semi": """
SELECT c.c_custkey FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) ORDER BY c.c_custkey
""",
    "q14_join_anti": """
SELECT c.c_custkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) ORDER BY c.c_custkey
""",
    "q15_join_cross": """
SELECT r1.r_name AS a, r2.r_name AS b FROM region r1 CROSS JOIN region r2 ORDER BY a, b
""",
    "q16_join_theta": """
SELECT s.s_suppkey, n.n_nationkey FROM supplier s JOIN nation n
ON s.s_nationkey < n.n_nationkey ORDER BY s.s_suppkey, n.n_nationkey
""",
    # DECIMAL, not ROUND(SUM(double), 2): the double sum's addition
    # order differs between engines and can straddle a half-cent tie;
    # the decimal sum is exact and order-free (see q04).
    "q17_join_multiway_agg": """
SELECT l.l_orderkey,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (1.00 - CAST(l.l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE)
           AS revenue,
       CAST(o.o_orderdate AS DATE) AS odate
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY l.l_orderkey, o.o_orderdate ORDER BY revenue DESC, l.l_orderkey LIMIT 10
""",
    # --- aggregation ----------------------------------------------------
    "q18_agg_groupby": """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sq,
       ROUND(AVG(l_extendedprice), 2) AS ap, ROUND(MIN(l_discount), 2) AS mind,
       ROUND(MAX(l_tax), 2) AS maxt
FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
""",
    "q19_agg_count_distinct": """
SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS u FROM orders
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    "q20_agg_having": """
SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
HAVING COUNT(*) > 5 ORDER BY o_custkey
""",
    "q21_agg_rollup": """
SELECT n_regionkey, n_nationkey, COUNT(*) AS n FROM nation
GROUP BY ROLLUP (n_regionkey, n_nationkey)
ORDER BY n_regionkey NULLS FIRST, n_nationkey NULLS FIRST
""",
    "q22_agg_cube": """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
    "q23_agg_grouping_sets": """
SELECT o_orderstatus, o_orderpriority, CAST(GROUPING(o_orderstatus) AS INT) AS g1, COUNT(*) AS n
FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
    # Integer-cents surrogate, not ROUND(SUM(double), 2): a global
    # double SUM's addition order differs between engines, and at
    # sf1.0 (1.5M rows, sum ~3.8e11) the accumulated ulp error
    # straddles the 2dp boundary (caught by ROBUSTNESS_SF1_r06).
    # FLOOR per row is engine-identical (CAST double->int is not:
    # DuckDB rounds, Spark truncates), and the integer SUM is
    # order-free.
    "q24_agg_global": """
SELECT COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS s_cents
FROM orders
""",
    # --- window functions ----------------------------------------------
    "q25_window_rank": """
SELECT c_custkey, c_nationkey,
       ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
       RANK() OVER (PARTITION BY c_nationkey ORDER BY c_mktsegment) AS rk,
       DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_mktsegment) AS drk
FROM customer ORDER BY c_custkey
""",
    "q26_window_lag_lead": """
SELECT o_orderkey, LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev,
       LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS nxt
FROM orders ORDER BY o_orderkey
""",
    # The frame ORDER BY carries l_extendedprice as a tie-break: the
    # testdata has duplicate (l_orderkey, l_linenumber) pairs, and an
    # ambiguous tie order makes the double running sum's partials
    # engine-dependent (caught at sf1.0). Rows tying on BOTH keys
    # carry equal prices, so any order among them yields identical
    # partials — the frame is deterministic without a unique key.
    "q27_window_running_sum": """
SELECT l_orderkey, l_linenumber,
       ROUND(SUM(l_extendedprice) OVER (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_extendedprice
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS rt
FROM lineitem WHERE l_orderkey < 200 ORDER BY l_orderkey, l_linenumber
""",
    # --- sort / limit ---------------------------------------------------
    "q28_topk": """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS p FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
""",
    # --- set operations -------------------------------------------------
    "q29_union_all": """
SELECT c_nationkey AS k FROM customer UNION ALL SELECT s_nationkey FROM supplier ORDER BY k
""",
    "q30_union_distinct": """
SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier ORDER BY k
""",
    "q31_intersect": """
SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier ORDER BY k
""",
    "q32_except": """
SELECT n_nationkey AS k FROM nation EXCEPT SELECT s_nationkey FROM supplier ORDER BY k
""",
    # --- subqueries -----------------------------------------------------
    "q33_derived_table": """
SELECT t.k, t.n FROM (SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY o_custkey) t
WHERE t.n > 3 ORDER BY t.k
""",
    "q34_scalar_subquery": """
SELECT c_custkey FROM customer WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
ORDER BY c_custkey
""",
    "q35_in_subquery": """
SELECT s_suppkey FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0) ORDER BY s_suppkey
""",
    "q36_correlated_subquery": """
SELECT c.c_custkey FROM customer c
WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
ORDER BY c.c_custkey
""",
    # --- dedup ----------------------------------------------------------
    "q37_distinct": """
SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment
""",
    "q38_dedup_by_key": """
SELECT k, v FROM (SELECT o_custkey AS k, o_orderkey AS v,
       ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn FROM orders) t
WHERE rn = 1 ORDER BY k
""",
    # --- streaming shapes (batch-equivalent) ----------------------------
    "q39_tumbling_window": """
SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS w, event_type, COUNT(*) AS n,
       ROUND(SUM(value), 2) AS sv
FROM events GROUP BY CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP), event_type
ORDER BY w, event_type
""",
    "q40_topk_per_key": """
SELECT user_id, event_id, rn FROM (SELECT user_id, event_id,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn FROM events) t
WHERE rn <= 3 ORDER BY user_id, rn
""",
    # --- text analysis / LLM-pipeline shapes ----------------------------
    "q41_word_count": """
SELECT doc_id, n_chars, LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_words
FROM documents ORDER BY doc_id
""",
    "q42_exact_dup": """
SELECT text, COUNT(*) AS n FROM documents GROUP BY text HAVING COUNT(*) > 1 ORDER BY text
""",
    "q43_json_extract": """
SELECT event_id, CAST(REPLACE(REPLACE(REPLACE(props, '{"k": ', ''), '}', ''), ' ', '') AS INT) AS k
FROM events WHERE event_id < 100 ORDER BY event_id
""",
}
