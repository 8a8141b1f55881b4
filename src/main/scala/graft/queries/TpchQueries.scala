package graft
package queries

import QueryDef.fixed

/** TPC-H query shapes over the lineitem/orders/customer/part/supplier/
  * nation/region tables, each checked against DuckDB. */
private[queries] object TpchQueries {
  val all: Seq[QueryDef] = Seq(
    fixed("q70_join_5way_reorder",
      "customer", "orders", "lineitem", "supplier", "nation", "region").sharedSql("""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation"""),
    // TPC-H Q3 (shipping priority): segment-filtered 3-way join, revenue in
    // exact integer units (the q133 discipline), top-10 by revenue with full
    // tiebreaks for a total order.
    fixed("q169_tpch_q3_shipping_priority", "customer", "orders", "lineitem").sharedSql("""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(FLOOR(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_u,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY 1, 3, 4
    ORDER BY revenue_u DESC, o_orderdate, l_orderkey
    LIMIT 10"""),
    // TPC-H Q5 (local supplier volume): revenue where the supplier and the
    // customer share a nation, per nation of one region over one year.
    fixed("q170_tpch_q5_local_supplier",
      "customer", "orders", "lineitem", "supplier", "nation", "region").sharedSql("""
    SELECT n.n_name,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(FLOOR(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_u,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    ORDER BY revenue_u DESC, n_name"""),
    // TPC-H Q10 (returned-item reporting): per-customer lost revenue from
    // returned lines over a quarter; top 20 by revenue.
    fixed("q171_tpch_q10_returned_items", "customer", "orders", "lineitem", "nation").sharedSql("""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(FLOOR(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_u,
           n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 4
    ORDER BY revenue_u DESC, c_custkey
    LIMIT 20"""),
    // TPC-H Q18 (large-volume customers): orders whose total quantity clears
    // a threshold (scaled to the synthetic row counts), with customer data.
    fixed("q172_tpch_q18_large_volume", "customer", "orders", "lineitem").sharedSql("""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 150)
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(SUM(l.l_quantity) AS BIGINT) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY 1, 2, 3, 4
    ORDER BY total_qty DESC, o_orderkey"""),
    // TPC-H Q22 shape (global sales opportunity), adapted to the reduced
    // schema (no c_phone -> country bucket = the customer nation) and to the
    // synthetic data (every customer has SOME order, so the dormancy test is
    // "no order since 1999"): above-average-balance customers gone quiet,
    // counted per nation.
    fixed("q173_tpch_q22_idle_balances", "customer", "orders", "nation").sharedSql("""
    WITH avg_bal AS (
      SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0),
    eligible AS (
      SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
      FROM customer c, avg_bal
      WHERE c.c_acctbal > avg_bal.a
        AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'))
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS total_bal_u
    FROM eligible e
    JOIN nation n ON e.c_nationkey = n.n_nationkey
    GROUP BY 1
    ORDER BY 1"""),
    // TPC-H Q7 shape (volume shipping): revenue flowing between two nation
    // groups in either direction, by supplier nation / customer nation /
    // ship year. Two aliases of the same `nation` dimension (supplier side and
    // customer side) — both broadcast; the fact table never shuffles before
    // the final group-by. Money travels as exact integer cent-units (see q126).
    fixed("q133_tpch_q7_volume_shipping",
      "lineitem", "orders", "customer", "supplier", "nation").sharedSql("""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(FLOOR(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_u,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name IN ('NATION_1', 'NATION_2') AND cn.n_name IN ('NATION_3', 'NATION_4'))
        OR (sn.n_name IN ('NATION_3', 'NATION_4') AND cn.n_name IN ('NATION_1', 'NATION_2')))
      AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3"""),
    // TPC-H Q8 shape (market share): one nation's share of a region's PROMO
    // revenue per order year. The share is a SINGLE IEEE division of two
    // exactly-summed BIGINTs (both emitted for auditability) — engine-parity
    // safe; a double SUM ratio would be order-dependent on both sides.
    fixed("q134_tpch_q8_market_share",
      "lineitem", "orders", "customer", "supplier", "nation", "region", "part").sharedSql("""
    WITH base AS (
      SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
             CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(FLOOR(l.l_discount * 100) AS BIGINT)) AS vol_u,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
      JOIN region r   ON cn.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
      JOIN part p     ON l.l_partkey = p.p_partkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO')
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol_u ELSE 0 END) AS BIGINT) AS nation_u,
           CAST(SUM(vol_u) AS BIGINT) AS total_u,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol_u ELSE 0 END) AS DOUBLE)
             / CAST(SUM(vol_u) AS DOUBLE) AS mkt_share
    FROM base GROUP BY o_year ORDER BY o_year"""),
    // TPC-H Q11 shape (important stock) adapted to this schema (no partsupp):
    // parts whose lineitem value exceeds 1.2× the uniform share, against a
    // scalar-subquery total. The threshold is an exact integer cross-ratio
    // (v·n·5 > t·6) — scale-invariant (uniform share shrinks as parts grow)
    // and free of double rounding on either engine.
    fixed("q135_tpch_q11_value_concentration", "lineitem").sharedSql("""
    WITH val AS (
      SELECT l.l_partkey,
             CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(FLOOR(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS value_u
      FROM lineitem l GROUP BY l.l_partkey),
    tot AS (
      SELECT CAST(SUM(value_u) AS BIGINT) AS total_u, CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM val)
    SELECT l_partkey, value_u
    FROM val, tot
    WHERE value_u * n_parts * 5 > total_u * 6
    ORDER BY value_u DESC, l_partkey"""),
    // TPC-H Q12 shape (shipping-delay priority split) adapted: lines shipped
    // >30 days after the order date, split per return-flag class into
    // high/low-priority conditional counts. The theta predicate
    // (shipdate > orderdate + interval) rides the equi-join on l_orderkey —
    // a hash join with a residual filter, never a nested loop.
    fixed("q136_tpch_q12_priority_split", "lineitem", "orders").sharedSql("""
    SELECT l.l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1 ORDER BY 1"""),
    // TPC-H Q14 shape (promo revenue share) by ship month: conditional-sum
    // ratio. Numerator/denominator are exact BIGINT cent-unit sums (emitted
    // too); the share is 100·num/den — two IEEE ops on exact inputs, so both
    // engines produce the identical double.
    fixed("q137_tpch_q14_promo_share", "lineitem", "part").sharedSql("""
    SELECT CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS y,
           CAST(EXTRACT(MONTH FROM l.l_shipdate) AS BIGINT) AS m,
           CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)
                              * (100 - CAST(FLOOR(l.l_discount * 100) AS BIGINT))
                         ELSE 0 END) AS BIGINT) AS promo_u,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(FLOOR(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS total_u,
           100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                 THEN CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)
                                      * (100 - CAST(FLOOR(l.l_discount * 100) AS BIGINT))
                                 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(FLOOR(l.l_discount * 100) AS BIGINT))) AS DOUBLE) AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY 1, 2 ORDER BY 1, 2"""),
    // TPC-H Q19 shape (disjunctive brand/size/quantity predicates): the OR of
    // three conjunct groups spans both join sides. Catalyst keeps the
    // l_partkey equi-join and extracts the brand/size disjunction as a
    // pushable part-scan filter (PlanSpec pins PushedFilters on the part
    // scan) — the naive reading would be a nested-loop over the OR.
    fixed("q138_tpch_q19_disjunctive", "lineitem", "part").sharedSql("""
    SELECT CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(FLOOR(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_u,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 40)"""),
    // TPC-H Q6 (forecasting revenue change): the tightest scan shape in the
    // suite — one pass, three pushable predicates (date range, discount
    // band, quantity cap), one global agg. Revenue in the battery's
    // integer-exact cents form (the q169 discipline) so the single output
    // row hashes identically cross-engine; the date window is shifted to
    // the generated data's 1995–2001 shipdate range.
    fixed("q209_tpch_q6_forecast_revenue", "lineitem").sharedSql("""
    SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
                 * CAST(FLOOR(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_u,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24"""),
    // TPC-H Q15 shape: grouped revenue view + global-MAX scalar subquery.
    // Money travels as exact integer units (cents × (100 − discount_cents)):
    // FLOOR of a double multiply is the same IEEE op on both engines, and the
    // BIGINT sum is order-independent — no double-summation parity risk.
    fixed("q126_tpch_q15_top_supplier", "lineitem", "supplier").sharedSql("""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(FLOOR(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_rev_u
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_rev_u
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev_u = (SELECT MAX(total_rev_u) FROM revenue)
    ORDER BY s_suppkey"""),
    // TPC-H Q16 shape: NOT IN excluded-supplier subquery + per-group COUNT
    // DISTINCT over a filtered dimension join.
    fixed("q127_tpch_q16_supplier_cnt", "part", "lineitem", "supplier").sharedSql("""
    SELECT p_brand, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 23)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 5000)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size"""),
    // TPC-H Q20 shape adapted to the available tables: suppliers shipping an
    // OUTSIZED share (>15% where uniform would be 10% over 10 suppliers) of a
    // part's total quantity — the threshold is in exact integer cross-ratio
    // form (qty·20 > total·3), non-empty at every fixture scale. Quantities
    // are integral doubles — FLOOR casts them to exact BIGINTs.
    fixed("q128_dominant_share", "lineitem", "supplier").sharedSql("""
    WITH part_vol AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    tot AS (
      SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS total_qty
      FROM part_vol GROUP BY l_partkey)
    SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS n_dominated_parts
    FROM part_vol JOIN tot USING (l_partkey) JOIN supplier ON s_suppkey = l_suppkey
    WHERE qty * 20 > total_qty * 3
    GROUP BY s_suppkey, s_name
    ORDER BY n_dominated_parts DESC, s_suppkey"""),
    fixed("q01_agg_pricing_summary", "lineitem").sharedSql("""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""),
    fixed("q103_late_supplier_chain", "supplier", "lineitem", "orders").sql(
      // TPC-H Q21 shape (adapted to this schema: lateness = shipped >60 days
      // after order date): join + EXISTS + NOT-EXISTS-with-join, the classic
      // multi-semijoin optimizer stress. Catalyst plans both subqueries as
      // hash semi/anti joins on l_orderkey — no per-row re-execution.
      """SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
         FROM supplier s
         JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
         JOIN orders o ON o.o_orderkey = l1.l_orderkey
         WHERE o.o_orderstatus = 'F'
           AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                           WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
         GROUP BY s.s_name
         ORDER BY numwait DESC, s_name
         LIMIT 20"""
    ).oracle(
      """SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
         FROM supplier s
         JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
         JOIN orders o ON o.o_orderkey = l1.l_orderkey
         WHERE o.o_orderstatus = 'F'
           AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                           WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
         GROUP BY s.s_name
         ORDER BY numwait DESC, s_name
         LIMIT 20"""),
    fixed("q104_min_cost_supplier", "part", "lineitem", "supplier").sql(
      // TPC-H Q2 shape: correlated scalar MIN subquery selecting, per part,
      // the supplier(s) quoting the minimum unit price. Catalyst decorrelates
      // to an aggregate + join; unit-price division is per-row IEEE double
      // (bit-identical across engines).
      """SELECT p.p_partkey, p.p_name, s.s_name, l.l_extendedprice / l.l_quantity AS unit_price
         FROM part p
         JOIN lineitem l ON l.l_partkey = p.p_partkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         WHERE p.p_size <= 5
           AND l.l_quantity > 0
           AND l.l_extendedprice / l.l_quantity = (
             SELECT MIN(l2.l_extendedprice / l2.l_quantity) FROM lineitem l2
             WHERE l2.l_partkey = p.p_partkey AND l2.l_quantity > 0)
         ORDER BY p_partkey, s_name, unit_price"""
    ).oracle(
      """SELECT p.p_partkey, p.p_name, s.s_name, l.l_extendedprice / l.l_quantity AS unit_price
         FROM part p
         JOIN lineitem l ON l.l_partkey = p.p_partkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         WHERE p.p_size <= 5
           AND l.l_quantity > 0
           AND l.l_extendedprice / l.l_quantity = (
             SELECT MIN(l2.l_extendedprice / l2.l_quantity) FROM lineitem l2
             WHERE l2.l_partkey = p.p_partkey AND l2.l_quantity > 0)
         ORDER BY p_partkey, s_name, unit_price"""),
    fixed("q105_profit_by_nation", "lineitem", "part", "supplier", "nation", "orders").sql(
      // TPC-H Q9 shape: 5-way join with a LIKE filter on the dimension and a
      // per-nation-per-year profit rollup. Every term is cast to
      // DECIMAL(30,6) (scales ≤ 5, so the casts never round) before the
      // subtraction/sum so the aggregate is exact on both engines.
      """SELECT n.n_name AS nation, CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
                CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DECIMAL(30,6))
                         - CAST(CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * CAST(p.p_retailprice AS DECIMAL(18,2)) AS DECIMAL(30,4)) * CAST(0.1 AS DECIMAL(2,1)) AS DECIMAL(30,6))) AS DOUBLE) AS profit
         FROM lineitem l
         JOIN part p ON p.p_partkey = l.l_partkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         WHERE p.p_name LIKE '%a%'
         GROUP BY n.n_name, YEAR(o.o_orderdate)
         ORDER BY nation, o_year"""
    ).oracle(
      """SELECT n.n_name AS nation, CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
                CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DECIMAL(30,6))
                         - CAST(CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * CAST(p.p_retailprice AS DECIMAL(18,2)) AS DECIMAL(30,4)) * CAST(0.1 AS DECIMAL(2,1)) AS DECIMAL(30,6))) AS DOUBLE) AS profit
         FROM lineitem l
         JOIN part p ON p.p_partkey = l.l_partkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         WHERE p.p_name LIKE '%a%'
         GROUP BY n.n_name, YEAR(o.o_orderdate)
         ORDER BY nation, o_year"""),
  )
}
