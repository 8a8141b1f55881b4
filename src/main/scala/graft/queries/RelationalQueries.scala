package graft
package queries

import org.apache.spark.sql.functions._
import graft.transform.SQLTransform
import QueryDef.fixed

/** Relational operators over the TPC-H and events tables: joins,
  * windows, set operations, scalar functions and the pipeline stages. */
private[queries] object RelationalQueries {
  val all: Seq[QueryDef] = Seq(
    // Window distribution functions: percent_rank/cume_dist are exact double
    // ratios of integer rank/count (single IEEE division — engine-parity
    // safe); nth_value gets an explicit ROWS frame so both engines agree on
    // when the 3rd row enters the frame. Ties broken by key → total order.
    fixed("q129_window_distribution", "orders").sharedSql("""
    SELECT o_orderkey, o_orderpriority,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           nth_value(o_orderkey, 3) OVER (
             PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_key
    FROM orders
    WHERE o_orderkey <= 2000
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_orderpriority, pr, o_orderkey"""),
    fixed("q02_filter_project", "lineitem").sharedSql("""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_discount >= 0.05 AND l_quantity < 10
    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"""),
    fixed("q03_join_inner_3way", "lineitem", "orders", "customer").sharedSql("""
    SELECT c.c_mktsegment,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment"""),
    fixed("q04_join_left_outer", "customer", "orders").sharedSql("""
    SELECT c.c_custkey, c.c_name,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY c.c_custkey"""),
    fixed("q05_join_semi_in", "orders", "lineitem").sharedSql("""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
    ORDER BY o_orderkey"""),
    fixed("q06_join_anti_notexists", "customer", "orders").sharedSql("""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey"""),
    fixed("q07_join_theta", "lineitem", "part").sharedSql("""
    SELECT l.l_orderkey, l.l_linenumber, p.p_partkey, p.p_retailprice, l.l_extendedprice
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
               AND l.l_extendedprice > p.p_retailprice * 45
    ORDER BY l.l_orderkey, l.l_linenumber, p.p_partkey, l.l_extendedprice, l.l_quantity"""),
    fixed("q08_join_full_outer", "nation", "customer", "supplier").sharedSql("""
    SELECT n.n_name,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT s.s_suppkey) AS BIGINT) AS n_suppliers
    FROM nation n
    FULL OUTER JOIN customer c ON c.c_nationkey = n.n_nationkey
    FULL OUTER JOIN supplier s ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name NULLS FIRST"""),
    fixed("q09_window_topk_per_group", "orders").sharedSql("""
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders) t
    WHERE rk <= 3
    ORDER BY o_custkey, rk"""),
    fixed("q10_window_running_sum", "lineitem").sharedSql("""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
             PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
    FROM lineitem
    WHERE l_suppkey <= 3
    ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity"""),
    fixed("q11_window_lag_lead", "events").sharedSql("""
    SELECT user_id, event_id, value,
           LAG(event_id)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event,
           LEAD(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event
    FROM events
    WHERE user_id <= 5
    ORDER BY user_id, ts, event_id"""),
    fixed("q12_cube", "lineitem").sharedSql("""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY g_flag, g_status, returnflag, linestatus"""),
    fixed("q13_rollup", "orders").sharedSql("""
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL')  AS status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_p,
           CAST(GROUPING(o_orderstatus) AS BIGINT)  AS g_s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    ORDER BY g_p, g_s, priority, status"""),
    fixed("q14_grouping_sets", "customer").sharedSql("""
    SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
           COALESCE(CAST(c_nationkey AS BIGINT), -1) AS nationkey,
           CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
           CAST(GROUPING(c_nationkey) AS BIGINT) AS g_nat,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    ORDER BY g_seg, g_nat, segment, nationkey"""),
    fixed("q15_intersect", "customer", "orders").sharedSql("""
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
    INTERSECT
    SELECT o_custkey FROM orders
    ORDER BY custkey"""),
    fixed("q16_except", "customer", "orders").sharedSql("""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey FROM orders
    ORDER BY custkey"""),
    fixed("q17_count_distinct", "lineitem").sharedSql("""
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT)  AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)  AS n_supps,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem"""),
    fixed("q18_topk_limit", "orders").sharedSql("""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10"""),
    fixed("q19_scalar_strings", "customer").sharedSql("""
    SELECT c_custkey,
           UPPER(c_name) AS uname,
           LOWER(c_mktsegment) AS lseg,
           SUBSTRING(c_name, 1, 8) AS prefix,
           CAST(LENGTH(c_name) AS BIGINT) AS name_len,
           CONCAT(c_name, '#', c_mktsegment) AS tagged,
           REPLACE(c_name, 'Customer', 'Cust') AS brief,
           TRIM(c_name) AS trimmed,
           LPAD(CAST(c_custkey AS STRING), 8, '0') AS padded
    FROM customer
    ORDER BY c_custkey"""),
    fixed("q20_scalar_dates", "lineitem").sql(
      """SELECT l_orderkey, l_linenumber,
               CAST(YEAR(l_shipdate) AS BIGINT)  AS y,
               CAST(MONTH(l_shipdate) AS BIGINT) AS m,
               CAST(DAY(l_shipdate) AS BIGINT)   AS d,
               DATE_TRUNC('MONTH', l_shipdate)   AS month_start,
               CAST(l_shipdate AS DATE)          AS ship_day
        FROM lineitem WHERE l_orderkey <= 200
        ORDER BY l_orderkey, l_linenumber, ship_day"""
    ).oracle(
      """SELECT l_orderkey, l_linenumber,
               CAST(YEAR(l_shipdate) AS BIGINT)  AS y,
               CAST(MONTH(l_shipdate) AS BIGINT) AS m,
               CAST(DAY(l_shipdate) AS BIGINT)   AS d,
               CAST(DATE_TRUNC('MONTH', l_shipdate) AS TIMESTAMP) AS month_start,
               CAST(l_shipdate AS DATE)          AS ship_day
        FROM lineitem WHERE l_orderkey <= 200
        ORDER BY l_orderkey, l_linenumber, ship_day"""),
    fixed("q21_scalar_math", "orders").sharedSql("""
    SELECT o_orderkey,
           ABS(o_totalprice - 100000)   AS dist,
           ROUND(o_totalprice, 0)       AS rounded,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS floored,
           CAST(CEIL(o_totalprice) AS BIGINT)  AS ceiled,
           CAST(MOD(o_orderkey, 7) AS BIGINT) AS m7,
           SQRT(o_totalprice)           AS root
    FROM orders
    WHERE o_orderkey <= 500
    ORDER BY o_orderkey"""),
    fixed("q22_case_coalesce", "orders").sharedSql("""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS bucket,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status2,
           GREATEST(o_totalprice, 150000.0) AS hi,
           LEAST(o_totalprice, 150000.0)    AS lo
    FROM orders
    WHERE o_orderkey <= 500
    ORDER BY o_orderkey"""),
    fixed("q23_json_extract", "events").sql(
      """SELECT event_id, CAST(GET_JSON_OBJECT(props, '$.k') AS BIGINT) AS k
        FROM events WHERE event_id <= 500
        ORDER BY event_id"""
    ).oracle(
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k
        FROM events WHERE event_id <= 500
        ORDER BY event_id"""),
    fixed("q25_union_all", "customer", "supplier").sql(
      """SELECT * FROM (
          SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name, 'customer' AS kind FROM customer
          UNION ALL
          SELECT CAST(s_suppkey AS BIGINT), s_name, 'supplier' FROM supplier) t
        ORDER BY kind, id"""
    ).oracle(
      """SELECT * FROM (
          SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name, 'customer' AS kind FROM customer
          UNION ALL
          SELECT CAST(s_suppkey AS BIGINT), s_name, 'supplier' FROM supplier) t
        ORDER BY kind, id"""),
    fixed("q26_scalar_subquery", "orders").sharedSql("""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > (SELECT AVG(o2.o_totalprice) * 1.8 FROM orders o2)
    ORDER BY o_orderkey"""),
    fixed("q27_having", "lineitem").sharedSql("""
    SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 100 AND SUM(CAST(l_quantity AS DECIMAL(18,2))) > 1000
    ORDER BY l_suppkey"""),
    fixed("q28_in_between", "orders").sharedSql("""
    SELECT o_orderkey, o_orderpriority
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderkey BETWEEN 100 AND 600
    ORDER BY o_orderkey"""),
    fixed("q29_like", "part").sharedSql("""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_name LIKE '%ol%' AND p_size BETWEEN 10 AND 30
    ORDER BY p_partkey"""),
    fixed("q30_join_broadcast_star", "lineitem", "supplier", "nation") {
      (spark, ctx, _) =>
        // Explicit broadcast of the small dimensions — at 100 TB the fact
        // table never shuffles for this star join.
        val l = ctx.view("lineitem")
        val s = ctx.view("supplier")
        val n = ctx.view("nation")
        l.join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
          .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
          .groupBy(n("n_name").as("nation"))
          .agg(
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"),
            count(lit(1)).as("n_lines")
          )
          .orderBy(col("nation"))
    }.oracle(
      """SELECT n.n_name AS nation,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY n.n_name"""),
    fixed("q39_stats_extract", "lineitem") { (spark, ctx, _) =>
      val ctx2 = ctx
      graft.extract
        .StatisticsExtract("stats", "lineitem", "lineitem_stats",
          columns = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_linestatus"))
        .execute(ctx2)
      ctx2.view("lineitem_stats")
        .filter(col("column").isin("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_linestatus"))
        .select(col("column"), col("count"), col("nulls"), col("distinct"), col("min"), col("max"))
        .orderBy("column")
    }.oracle(
      """SELECT "column", "count", nulls, "distinct", "min", "max" FROM (
          SELECT 'l_orderkey' AS "column", CAST(COUNT(l_orderkey) AS BIGINT) AS "count",
                 CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                 CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS "distinct",
                 CAST(MIN(l_orderkey) AS VARCHAR) AS "min", CAST(MAX(l_orderkey) AS VARCHAR) AS "max"
          FROM lineitem
          UNION ALL
          SELECT 'l_partkey', CAST(COUNT(l_partkey) AS BIGINT),
                 CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(COUNT(DISTINCT l_partkey) AS BIGINT),
                 CAST(MIN(l_partkey) AS VARCHAR), CAST(MAX(l_partkey) AS VARCHAR)
          FROM lineitem
          UNION ALL
          SELECT 'l_suppkey', CAST(COUNT(l_suppkey) AS BIGINT),
                 CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(COUNT(DISTINCT l_suppkey) AS BIGINT),
                 CAST(MIN(l_suppkey) AS VARCHAR), CAST(MAX(l_suppkey) AS VARCHAR)
          FROM lineitem
          UNION ALL
          SELECT 'l_returnflag', CAST(COUNT(l_returnflag) AS BIGINT),
                 CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
                 CAST(MIN(l_returnflag) AS VARCHAR), CAST(MAX(l_returnflag) AS VARCHAR)
          FROM lineitem
          UNION ALL
          SELECT 'l_linestatus', CAST(COUNT(l_linestatus) AS BIGINT),
                 CAST(SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(COUNT(DISTINCT l_linestatus) AS BIGINT),
                 CAST(MIN(l_linestatus) AS VARCHAR), CAST(MAX(l_linestatus) AS VARCHAR)
          FROM lineitem) t
        ORDER BY "column""""),
    fixed("q40_typing_transform", "lineitem") { (spark, ctx, _) =>
      // String-ify a slice, then run the real TypingTransform back to types;
      // inject two malformed rows to exercise _errors accumulation.
      SQLTransform(
        "stringify",
        """SELECT CAST(l_orderkey AS STRING) AS orderkey, CAST(l_quantity AS STRING) AS qty,
                  CAST(l_shipdate AS STRING) AS shipdate
           FROM lineitem WHERE l_orderkey <= 100
           UNION ALL SELECT 'xx', '12.5', '1996-01-01 00:00:00'
           UNION ALL SELECT '999999', 'notanumber', 'baddate'""",
        "raw_lines"
      ).execute(ctx)
      graft.transform.TypingTransform(
        "typing",
        schema = Seq(
          graft.schema.FieldSpec("orderkey", "long", nullable = false),
          graft.schema.FieldSpec("qty", "double"),
          graft.schema.FieldSpec("shipdate", "timestamp")
        ),
        inputView = "raw_lines",
        outputView = "typed_lines"
      ).execute(ctx)
      ctx.view("typed_lines")
        .select(
          col("orderkey"), col("qty"), col("shipdate"),
          size(col("_errors")).cast("long").as("n_errors"),
          coalesce(get(col("_errors"), lit(0)).getField("field"), lit("")).as("first_error_field")
        )
        // shipdate in the sort keys makes the order total: (orderkey, qty)
        // ties exist in lineitem, and a non-total ORDER BY can legally
        // reorder between Spark and DuckDB → flaky hash compare.
        .orderBy(col("orderkey").asc_nulls_first, col("qty").asc_nulls_first,
          col("shipdate").asc_nulls_first, col("n_errors"))
    }.oracle(
      """SELECT orderkey, qty, shipdate, n_errors, first_error_field FROM (
          SELECT TRY_CAST(orderkey_s AS BIGINT) AS orderkey,
                 TRY_CAST(qty_s AS DOUBLE) AS qty,
                 TRY_CAST(shipdate_s AS TIMESTAMP) AS shipdate,
                 CAST((CASE WHEN TRY_CAST(orderkey_s AS BIGINT) IS NULL THEN 1 ELSE 0 END) +
                 (CASE WHEN TRY_CAST(qty_s AS DOUBLE) IS NULL THEN 1 ELSE 0 END) +
                 (CASE WHEN TRY_CAST(shipdate_s AS TIMESTAMP) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
                 CASE WHEN TRY_CAST(orderkey_s AS BIGINT) IS NULL THEN 'orderkey'
                      WHEN TRY_CAST(qty_s AS DOUBLE) IS NULL THEN 'qty'
                      WHEN TRY_CAST(shipdate_s AS TIMESTAMP) IS NULL THEN 'shipdate'
                      ELSE '' END AS first_error_field
          FROM (
            SELECT CAST(l_orderkey AS VARCHAR) AS orderkey_s, CAST(l_quantity AS VARCHAR) AS qty_s,
                   CAST(l_shipdate AS VARCHAR) AS shipdate_s
            FROM lineitem WHERE l_orderkey <= 100
            UNION ALL SELECT 'xx', '12.5', '1996-01-01 00:00:00'
            UNION ALL SELECT '999999', 'notanumber', 'baddate') raw) t
        ORDER BY orderkey ASC NULLS FIRST, qty ASC NULLS FIRST, shipdate ASC NULLS FIRST, n_errors"""),
    fixed("q41_diff_transform", "customer") { (spark, ctx, _) =>
      SQLTransform("a", "SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 1000", "set_a").execute(ctx)
      SQLTransform("b", "SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal < 6000", "set_b").execute(ctx)
      graft.transform.DiffTransform(
        "diff", "set_a", "set_b",
        outputIntersectionView = Some("diff_inter"),
        outputLeftView = Some("diff_left"),
        outputRightView = Some("diff_right")
      ).execute(ctx)
      ctx.view("diff_inter").withColumn("side", lit("both"))
        .unionAll(ctx.view("diff_left").withColumn("side", lit("left")))
        .unionAll(ctx.view("diff_right").withColumn("side", lit("right")))
        .orderBy("side", "c_custkey")
    }.oracle(
      """WITH set_a AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 1000),
             set_b AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal < 6000)
        SELECT * FROM (
          SELECT c_custkey, c_mktsegment, 'both' AS side FROM (SELECT * FROM set_a INTERSECT ALL SELECT * FROM set_b)
          UNION ALL
          SELECT c_custkey, c_mktsegment, 'left' FROM (SELECT * FROM set_a EXCEPT ALL SELECT * FROM set_b)
          UNION ALL
          SELECT c_custkey, c_mktsegment, 'right' FROM (SELECT * FROM set_b EXCEPT ALL SELECT * FROM set_a)) t
        ORDER BY side, c_custkey"""),
    fixed("q42_metadata_extract", "lineitem") { (spark, ctx, _) =>
      graft.extract.MetadataExtract("meta", "lineitem", "lineitem_meta").execute(ctx)
      ctx.view("lineitem_meta").select("name", "nullable", "type").orderBy("name")
    }.oracle(
      """SELECT * FROM (VALUES
          ('l_orderkey', TRUE, 'bigint'), ('l_partkey', TRUE, 'bigint'),
          ('l_suppkey', TRUE, 'bigint'), ('l_linenumber', TRUE, 'int'),
          ('l_quantity', TRUE, 'double'), ('l_extendedprice', TRUE, 'double'),
          ('l_discount', TRUE, 'double'), ('l_tax', TRUE, 'double'),
          ('l_returnflag', TRUE, 'string'), ('l_linestatus', TRUE, 'string'),
          ('l_shipdate', TRUE, 'timestamp')) AS t(name, nullable, type)
        ORDER BY name"""),
    fixed("q43_pivot", "orders") { (spark, ctx, _) =>
      ctx.view("orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("o_orderpriority")
    }.oracle(
      """SELECT o_orderpriority,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
               CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority"""),
    fixed("q45_asof_join", "events", "orders") { (spark, ctx, _) =>
      graft.operators.AsOfJoin.latestBefore(
        ctx.view("events").filter(col("event_id") < 100),
        "ts", "event_id",
        ctx.view("orders"), "o_orderdate"
      ).orderBy("event_id")
    }.oracle(
      """SELECT e.event_id, o.last_order_date
        FROM (SELECT event_id, ts FROM events WHERE event_id < 100) e
        ASOF LEFT JOIN (SELECT o_orderdate AS last_order_date FROM orders) o
          ON e.ts >= o.last_order_date
        ORDER BY e.event_id"""),
    fixed("q47_percentile_exact", "orders").sql(
      """SELECT o_orderpriority,
               PERCENTILE(o_totalprice, 0.5)  AS p50,
               PERCENTILE(o_totalprice, 0.9)  AS p90,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority"""
    ).oracle(
      """SELECT o_orderpriority,
               QUANTILE_CONT(o_totalprice, 0.5) AS p50,
               QUANTILE_CONT(o_totalprice, 0.9) AS p90,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority"""),
    fixed("q48_window_range_frame", "orders").sql(
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_orderpriority ORDER BY o_totalprice
                 RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS nearby_sum
        FROM orders
        WHERE o_orderkey < 300
        ORDER BY o_orderpriority, o_totalprice, o_orderkey"""
    ).oracle(
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_orderpriority ORDER BY o_totalprice
                 RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS nearby_sum
        FROM orders
        WHERE o_orderkey < 300
        ORDER BY o_orderpriority, o_totalprice, o_orderkey"""),
    fixed("q49_window_ntile_firstlast", "orders").sql(
      """SELECT o_orderkey,
               NTILE(4) OVER w AS quartile,
               FIRST_VALUE(o_orderkey) OVER w AS cheapest,
               LAST_VALUE(o_orderkey) OVER (
                 PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest
        FROM orders
        WHERE o_orderkey < 300
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderkey"""
    ).oracle(
      """SELECT o_orderkey,
               NTILE(4) OVER w AS quartile,
               FIRST_VALUE(o_orderkey) OVER w AS cheapest,
               LAST_VALUE(o_orderkey) OVER (
                 PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest
        FROM orders
        WHERE o_orderkey < 300
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderkey"""),
    fixed("q50_regexp", "customer").sql(
      """SELECT c_custkey,
               REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS digits,
               REGEXP_REPLACE(c_name, '[aeiou]', '_') AS devoweled
        FROM customer
        ORDER BY c_custkey"""
    ).oracle(
      """SELECT c_custkey,
               COALESCE(REGEXP_EXTRACT(c_name, '([0-9]+)', 1), '') AS digits,
               REGEXP_REPLACE(c_name, '[aeiou]', '_', 'g') AS devoweled
        FROM customer
        ORDER BY c_custkey"""),
    fixed("q51_filtered_agg", "lineitem").sql(
      """SELECT l_returnflag,
               CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_qty,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag"""
    ).oracle(
      """SELECT l_returnflag,
               CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_qty,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag"""),
    fixed("q53_string_agg", "nation") { (spark, ctx, _) =>
      ctx.view("nation")
        .groupBy(col("n_regionkey").cast("long").as("regionkey"))
        .agg(array_join(sort_array(collect_list(col("n_name"))), "|").as("nations"))
        .orderBy("regionkey")
    }.oracle(
      """SELECT CAST(n_regionkey AS BIGINT) AS regionkey,
               STRING_AGG(n_name, '|' ORDER BY n_name) AS nations
        FROM nation
        GROUP BY n_regionkey
        ORDER BY regionkey"""),
    fixed("q55_interval_arith", "orders").sql(
      """SELECT o_orderkey,
               o_orderdate + INTERVAL 30 DAY  AS due_date,
               o_orderdate - INTERVAL 1 DAY   AS day_before
        FROM orders
        WHERE o_orderkey < 200
        ORDER BY o_orderkey"""
    ).oracle(
      """SELECT o_orderkey,
               o_orderdate + INTERVAL 30 DAY  AS due_date,
               o_orderdate - INTERVAL 1 DAY   AS day_before
        FROM orders
        WHERE o_orderkey < 200
        ORDER BY o_orderkey"""),
    fixed("q57_null_semantics", "orders").sql(
      """SELECT o_orderkey,
               NULLIF(o_orderstatus, 'O') IS NULL AS is_open,
               COALESCE(NULLIF(o_orderstatus, 'O'), 'none') AS closed_status,
               o_orderstatus IS DISTINCT FROM 'F' AS not_f
        FROM orders
        WHERE o_orderkey < 200
        ORDER BY o_orderkey"""
    ).oracle(
      """SELECT o_orderkey,
               NULLIF(o_orderstatus, 'O') IS NULL AS is_open,
               COALESCE(NULLIF(o_orderstatus, 'O'), 'none') AS closed_status,
               o_orderstatus IS DISTINCT FROM 'F' AS not_f
        FROM orders
        WHERE o_orderkey < 200
        ORDER BY o_orderkey"""),
    fixed("q52_cte_chain", "orders", "lineitem").sql(
      """WITH big AS (
          SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 150000
        ), items AS (
          SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          FROM lineitem GROUP BY l_orderkey
        )
        SELECT b.o_orderkey, b.o_custkey, i.n_items, i.qty
        FROM big b JOIN items i ON b.o_orderkey = i.l_orderkey
        ORDER BY b.o_orderkey"""
    ).oracle(
      """WITH big AS (
          SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 150000
        ), items AS (
          SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          FROM lineitem GROUP BY l_orderkey
        )
        SELECT b.o_orderkey, b.o_custkey, i.n_items, i.qty
        FROM big b JOIN items i ON b.o_orderkey = i.l_orderkey
        ORDER BY b.o_orderkey"""),
    fixed("q54_union_distinct", "customer", "orders").sql(
      """SELECT custkey FROM (
          SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
          UNION
          SELECT o_custkey FROM orders WHERE o_totalprice > 300000) t
        ORDER BY custkey"""
    ).oracle(
      """SELECT custkey FROM (
          SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
          UNION
          SELECT o_custkey FROM orders WHERE o_totalprice > 300000) t
        ORDER BY custkey"""),
    fixed("q56_conditional_window", "orders").sql(
      """SELECT o_orderkey, o_orderpriority,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS f_so_far,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_orderpriority ORDER BY o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
               / COUNT(*) OVER (
                 PARTITION BY o_orderpriority ORDER BY o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_avg
        FROM orders
        WHERE o_orderkey < 400
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY o_orderkey"""
    ).oracle(
      """SELECT o_orderkey, o_orderpriority,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS f_so_far,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_orderpriority ORDER BY o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
               / COUNT(*) OVER (
                 PARTITION BY o_orderpriority ORDER BY o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_avg
        FROM orders
        WHERE o_orderkey < 400
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY o_orderkey"""),
    fixed("q58_correlated_agg", "orders").sql(
      """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders o
        WHERE o.o_totalprice > (
          SELECT AVG(o2.o_totalprice) * 1.5 FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o.o_orderkey"""
    ).oracle(
      """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders o
        WHERE o.o_totalprice > (
          SELECT AVG(o2.o_totalprice) * 1.5 FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o.o_orderkey"""),
    fixed("q66_date_arithmetic", "orders", "lineitem").sql(
      """SELECT o.o_orderkey, l.l_linenumber,
               CAST(DATEDIFF(l.l_shipdate, o.o_orderdate) AS BIGINT) AS days_to_ship,
               CAST(MONTH(o.o_orderdate) AS BIGINT) AS order_month,
               CAST(QUARTER(o.o_orderdate) AS BIGINT) AS order_quarter,
               CAST(DAYOFWEEK(o.o_orderdate) AS BIGINT) AS order_dow
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey < 120
        ORDER BY o.o_orderkey, l.l_linenumber, l.l_shipdate, l.l_quantity"""
    ).oracle(
      """SELECT o.o_orderkey, l.l_linenumber,
               CAST(DATE_DIFF('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS BIGINT) AS days_to_ship,
               CAST(MONTH(o.o_orderdate) AS BIGINT) AS order_month,
               CAST(QUARTER(o.o_orderdate) AS BIGINT) AS order_quarter,
               CAST(DAYOFWEEK(o.o_orderdate) + 1 AS BIGINT) AS order_dow
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey < 120
        ORDER BY o.o_orderkey, l.l_linenumber, l.l_shipdate, l.l_quantity"""),
    fixed("q67_string_parts", "part").sql(
      """SELECT p_partkey,
               SPLIT_PART(p_type, ' ', 1) AS type_head,
               SPLIT_PART(p_type, ' ', 3) AS type_tail,
               CAST(SIZE(SPLIT(p_type, ' ')) AS BIGINT) AS n_words,
               TRANSLATE(p_name, ' ', '_') AS name_tag
        FROM part
        WHERE p_partkey < 300
        ORDER BY p_partkey"""
    ).oracle(
      """SELECT p_partkey,
               SPLIT_PART(p_type, ' ', 1) AS type_head,
               SPLIT_PART(p_type, ' ', 3) AS type_tail,
               CAST(LEN(STRING_SPLIT(p_type, ' ')) AS BIGINT) AS n_words,
               TRANSLATE(p_name, ' ', '_') AS name_tag
        FROM part
        WHERE p_partkey < 300
        ORDER BY p_partkey"""),
    fixed("q68_rank_fractions", "orders").sql(
      """SELECT o_orderkey,
               CAST(DENSE_RANK() OVER w AS BIGINT) AS drk,
               PERCENT_RANK() OVER w AS prk,
               CUME_DIST() OVER w AS cd
        FROM orders
        WHERE o_orderkey < 300
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        ORDER BY o_orderkey"""
    ).oracle(
      """SELECT o_orderkey,
               CAST(DENSE_RANK() OVER w AS BIGINT) AS drk,
               PERCENT_RANK() OVER w AS prk,
               CUME_DIST() OVER w AS cd
        FROM orders
        WHERE o_orderkey < 300
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        ORDER BY o_orderkey"""),
    fixed("q69_limit_offset", "customer").sql(
      """SELECT c_custkey, c_name
        FROM customer
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 20 OFFSET 40"""
    ).oracle(
      """SELECT c_custkey, c_name
        FROM customer
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 20 OFFSET 40"""),
    fixed("q63_sessionization", "events").sql(
      """WITH marked AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN LAG(ts) OVER w IS NULL
                        OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WHERE user_id <= 20
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
          SELECT user_id, ts,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM marked
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM numbered
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id"""
    ).oracle(
      """WITH marked AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN LAG(ts) OVER w IS NULL
                        OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WHERE user_id <= 20
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
          SELECT user_id, ts,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM marked
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM numbered
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id"""),
    fixed("q72_exists_correlated", "customer", "orders").sql(
      """SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        ORDER BY c_custkey"""
    ).oracle(
      """SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        ORDER BY c_custkey"""),
    fixed("q73_map_struct_ops", "orders").sql(
      // Map/struct construction + field access (oracle computes the flattened
      // values directly — the check is that Spark's collection ops are
      // value-preserving round trips).
      """SELECT o_orderkey,
               element_at(map_from_arrays(array('status','priority'),
                                          array(o_orderstatus, o_orderpriority)), 'status') AS status_v,
               (named_struct('k', o_orderkey, 'p', o_totalprice)).p AS price_v,
               map_keys(map_from_arrays(array('a','b'), array(1, 2)))[0] AS first_key
        FROM orders
        WHERE o_orderkey <= 300
        ORDER BY o_orderkey"""
    ).oracle(
      // DuckDB computes the flattened values directly; the Spark side must
      // round-trip them through map/struct construction unchanged.
      """SELECT o_orderkey,
               o_orderstatus AS status_v,
               o_totalprice AS price_v,
               'a' AS first_key
        FROM orders
        WHERE o_orderkey <= 300
        ORDER BY o_orderkey"""),
    fixed("q74_decimal_exact", "lineitem").sql(
      // Decimal arithmetic under test, INTEGER transport across the oracle
      // boundary. Three rounds of hash-mismatch taught the lesson: the
      // driver's DuckDB is a different build than the local 1.0.0 (the r05
      // formulation was verified bit-identical locally yet still failed the
      // driver), and decimal division/representation semantics vary by
      // engine VERSION, not just by engine. So the Spark side exercises the
      // full decimal path — FLOOR-derived exact decimals, exact multiply,
      // dyadic-terminating divide, widening casts — and then converts each
      // result to scale-0 integer units (×10^scale → BIGINT, exact because
      // every value terminates within its scale). The oracle computes the
      // SAME integers with pure BIGINT arithmetic: no decimal type ever
      // crosses the comparison, so there is nothing version-dependent left
      // to disagree on. unit_price stays DOUBLE: IEEE-754 division is
      // bit-identical across engines (same approach as q35/q79).
      // Spark's own decimal semantics (scales, HALF_UP, overflow) are
      // pinned separately in DecimalSpec.
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
               CAST(CAST(FLOOR(l_extendedprice * 100) AS BIGINT) * CAST(0.01 AS DECIMAL(3,2)) * 100 AS BIGINT) AS price_cents,
               CAST(CAST(FLOOR(l_extendedprice * 100) AS BIGINT) * CAST(FLOOR(l_discount * 100) AS BIGINT) * CAST(0.0001 AS DECIMAL(5,4)) * 10000 AS BIGINT) AS disc_amt_du,
               CAST(CAST(CAST(CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS DECIMAL(30,8)) / 4 AS DECIMAL(38,4)) * 100 AS BIGINT) AS quarter_centi,
               CAST(l_extendedprice AS DOUBLE) / CAST(NULLIF(l_quantity, 0) AS DOUBLE) AS unit_price
        FROM lineitem
        WHERE l_orderkey <= 100
        ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"""
    ).oracle(
      // Oracle side is PURE BIGINT arithmetic — provably equal to the Spark
      // side's decimal pipeline (cents * 0.01 * 100 == cents; cents * dc *
      // 0.0001 * 10000 == cents*dc; (cents/4) * 100 == cents*25 exactly, the
      // quotient terminates in 2 digits), with no decimal type crossing the
      // engine-version-sensitive comparison.
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
               CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS price_cents,
               CAST(FLOOR(l_extendedprice * 100) AS BIGINT) * CAST(FLOOR(l_discount * 100) AS BIGINT) AS disc_amt_du,
               CAST(FLOOR(l_extendedprice * 100) AS BIGINT) * 25 AS quarter_centi,
               CAST(l_extendedprice AS DOUBLE) / CAST(NULLIF(l_quantity, 0) AS DOUBLE) AS unit_price
        FROM lineitem
        WHERE l_orderkey <= 100
        ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"""),
    fixed("q75_unpivot", "orders").sql(
      """WITH base AS (
          SELECT o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
                 CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o
          FROM orders GROUP BY o_orderpriority)
        SELECT o_orderpriority, metric, val
        FROM base UNPIVOT (val FOR metric IN (n_orders, n_f, n_o))
        ORDER BY o_orderpriority, metric"""
    ).oracle(
      """WITH base AS (
          SELECT o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
                 CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o
          FROM orders GROUP BY o_orderpriority)
        SELECT o_orderpriority, metric, val
        FROM base UNPIVOT (val FOR metric IN (n_orders, n_f, n_o))
        ORDER BY o_orderpriority, metric"""),
    fixed("q76_nullsafe_join", "orders").sql(
      """SELECT a.o_orderkey AS k1, b.o_orderkey AS k2
        FROM (SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS s
              FROM orders WHERE o_orderkey <= 100) a
        JOIN (SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS s
              FROM orders WHERE o_orderkey BETWEEN 101 AND 200) b
          ON a.s <=> b.s
        ORDER BY k1, k2"""
    ).oracle(
      """SELECT a.o_orderkey AS k1, b.o_orderkey AS k2
        FROM (SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS s
              FROM orders WHERE o_orderkey <= 100) a
        JOIN (SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS s
              FROM orders WHERE o_orderkey BETWEEN 101 AND 200) b
          ON a.s IS NOT DISTINCT FROM b.s
        ORDER BY k1, k2"""),
    fixed("q77_gap_fill", "orders").sql(
      """WITH days AS (
          SELECT explode(sequence(DATE'1995-01-01', DATE'1995-03-01', interval 1 day)) AS d
        ), daily AS (
          SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
          FROM orders GROUP BY CAST(o_orderdate AS DATE))
        SELECT days.d, COALESCE(daily.n, 0) AS n_orders
        FROM days LEFT JOIN daily ON days.d = daily.d
        ORDER BY days.d"""
    ).oracle(
      """WITH days AS (
          SELECT CAST(UNNEST(GENERATE_SERIES(DATE '1995-01-01', DATE '1995-03-01', INTERVAL 1 DAY)) AS DATE) AS d
        ), daily AS (
          SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
          FROM orders GROUP BY CAST(o_orderdate AS DATE))
        SELECT days.d, COALESCE(daily.n, 0) AS n_orders
        FROM days LEFT JOIN daily ON days.d = daily.d
        ORDER BY days.d"""),
    fixed("q79_median", "orders").sql(
      """SELECT o_orderpriority,
               CAST(MEDIAN(o_totalprice) AS DOUBLE) AS med_price,
               CAST(MEDIAN(o_orderkey) AS DOUBLE) AS med_key
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority"""
    ).oracle(
      """SELECT o_orderpriority,
               CAST(MEDIAN(o_totalprice) AS DOUBLE) AS med_price,
               CAST(MEDIAN(o_orderkey) AS DOUBLE) AS med_key
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority"""),
    fixed("q80_bitwise", "orders").sql(
      """SELECT o_orderkey,
               CAST(o_orderkey & 255 AS BIGINT) AS band,
               CAST(o_orderkey | 4096 AS BIGINT) AS bor,
               CAST(o_orderkey ^ 21 AS BIGINT) AS bxor,
               CAST(SHIFTLEFT(o_orderkey, 3) AS BIGINT) AS shl
        FROM orders
        WHERE o_orderkey <= 300
        ORDER BY o_orderkey"""
    ).oracle(
      """SELECT o_orderkey,
               CAST(o_orderkey & 255 AS BIGINT) AS band,
               CAST(o_orderkey | 4096 AS BIGINT) AS bor,
               CAST(XOR(o_orderkey, 21) AS BIGINT) AS bxor,
               CAST(o_orderkey << 3 AS BIGINT) AS shl
        FROM orders
        WHERE o_orderkey <= 300
        ORDER BY o_orderkey"""),
    fixed("q87_pii_scrub", "customer").sql(
      // PII scrubbing: mask multi-digit runs (ids, phone digits, account
      // numbers) and count masked tokens — the redaction pass a training
      // pipeline runs before ingestion. Pure codegen'd regexp functions
      // (narrow map, scan speed); group 0 passed explicitly (Spark's
      // regexp_extract_all defaults to group 1).
      """SELECT c_custkey,
               regexp_replace(c_name || ' ref=' || CAST(c_custkey * 7919 AS STRING), '[0-9]{2,}', '[NUM]') AS scrubbed,
               CAST(size(regexp_extract_all(c_name || ' ref=' || CAST(c_custkey * 7919 AS STRING), '[0-9]{2,}', 0)) AS BIGINT) AS n_masked
        FROM customer
        ORDER BY c_custkey"""
    ).oracle(
      """SELECT c_custkey,
               regexp_replace(c_name || ' ref=' || CAST(c_custkey * 7919 AS VARCHAR), '[0-9]{2,}', '[NUM]', 'g') AS scrubbed,
               CAST(len(regexp_extract_all(c_name || ' ref=' || CAST(c_custkey * 7919 AS VARCHAR), '[0-9]{2,}')) AS BIGINT) AS n_masked
        FROM customer
        ORDER BY c_custkey"""),
    fixed("q88_last_nonnull_window", "events").sql(
      // Forward-fill of a sparse signal: last click value carried forward per
      // user. IGNORE NULLS window semantics (Spark: clause after the call;
      // DuckDB oracle spells it inside the parens).
      """SELECT event_id, user_id,
               last_value(CASE WHEN event_type = 'click' THEN value END) IGNORE NULLS
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_value
        FROM events
        ORDER BY event_id"""
    ).oracle(
      """SELECT event_id, user_id,
               last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_value
        FROM events
        ORDER BY event_id"""),
    fixed("q71_range_join", "orders", "lineitem") { (spark, ctx, _) =>
      // Unkeyed range join: per early order, how many lineitems (any order)
      // shipped within [o_orderdate, o_orderdate + 7 days). Spark's native
      // plan for a pure BETWEEN predicate is a BroadcastNestedLoopJoin —
      // O(n·m) at scale; RangeJoin tiles the time axis and runs a shuffled
      // equi-join on the bucket id instead (plan pinned in RangeJoinSpec).
      val week = 7L * 86400L * 1000000L // micros
      val ordersF = ctx.view("orders").filter(col("o_orderkey") <= 2000)
      val intervals = ordersF.select(
        col("o_orderkey"),
        unix_micros(col("o_orderdate")).as("_lo"),
        (unix_micros(col("o_orderdate")) + week).as("_hi")
      )
      val points = ctx.view("lineitem").select(unix_micros(col("l_shipdate")).as("_t"))
      val counts = graft.operators.RangeJoin
        .pointInInterval(points, "_t", intervals, "_lo", "_hi", bucketWidth = week)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_in_window"))
      ordersF
        .select("o_orderkey")
        .join(counts, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"), coalesce(col("n_in_window"), lit(0L)).as("n_in_window"))
        .orderBy("o_orderkey")
    }.oracle(
      """SELECT o.o_orderkey, CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_in_window
        FROM orders o LEFT JOIN lineitem l
          ON l.l_shipdate >= o.o_orderdate
         AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
        WHERE o.o_orderkey <= 2000
        GROUP BY o.o_orderkey
        ORDER BY o.o_orderkey"""),
    fixed("q93_salted_join", "lineitem", "part") { (spark, ctx, _) =>
      // Skew-safe shuffle join parity: Skew.saltedJoin spreads each key over
      // `factor` reducers (deterministic payload-hash salt, right side
      // exploded factor×) and must be a pure plan transformation — the
      // oracle is the plain unsalted join. Decimal-summed quantities (exact,
      // order-independent) per the q01 cross-engine pattern.
      val li = ctx.view("lineitem")
        .select(col("l_partkey").as("partkey"), col("l_quantity"))
      val pt = ctx.view("part")
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      graft.core.Skew.saltedJoin(li, pt, Seq("partkey"), factor = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("p_brand")
    }.oracle(
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        ORDER BY p_brand"""),
    fixed("q101_resample_interpolate", "events") { (spark, ctx, _) =>
      // Time-series resample to a 6-hour grid with linear interpolation
      // (Resample.resampleLinear): grid via per-key bounds agg + sequence()
      // explode, surrounding observations via IGNORE NULLS windows,
      // interpolation in exact epoch-micros + one IEEE divide (oracle-exact).
      graft.operators.Resample
        .resampleLinear(
          ctx.view("events").filter(col("event_type") === "click"),
          "user_id", "ts", "value", step = "6 hours")
        .orderBy("user_id", "ts")
    }.oracle(
      """WITH obs AS (
           SELECT user_id, ts, value FROM events WHERE event_type = 'click'
         ),
         bounds AS (
           SELECT user_id,
                  date_trunc('day', MIN(ts)) + INTERVAL 1 DAY AS t0,
                  date_trunc('day', MAX(ts)) AS t1
           FROM obs GROUP BY user_id
           HAVING date_trunc('day', MIN(ts)) + INTERVAL 1 DAY <= date_trunc('day', MAX(ts))
         ),
         grid AS (
           SELECT user_id, UNNEST(generate_series(t0, t1, INTERVAL 6 HOUR)) AS gts FROM bounds
         ),
         merged AS (
           SELECT user_id, gts AS ts, NULL AS value, TRUE AS is_grid FROM grid
           UNION ALL
           SELECT user_id, ts, value, FALSE AS is_grid FROM obs
         ),
         w AS (
           SELECT user_id, ts, is_grid,
             LAST_VALUE(CASE WHEN NOT is_grid THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, is_grid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             LAST_VALUE(CASE WHEN NOT is_grid THEN epoch_us(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, is_grid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             FIRST_VALUE(CASE WHEN NOT is_grid THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, is_grid ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN NOT is_grid THEN epoch_us(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, is_grid ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
           FROM merged
         )
         SELECT user_id, ts,
           CASE WHEN pt IS NULL THEN nv
                WHEN nt IS NULL THEN pv
                WHEN nt = pt THEN pv
                ELSE pv + (nv - pv) * (CAST(epoch_us(ts) - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
           END AS interp_value
         FROM w WHERE is_grid
         ORDER BY user_id, ts"""),
    fixed("q102_stats_profile", "lineitem").sql(
      // Correlation / covariance / regression-slope profile per group, all
      // derived from EXACT integer power sums over cent units (a straight
      // corr() over doubles is partition-order-dependent and would not
      // oracle-match); the final combining arithmetic is the same IEEE
      // expression tree on both engines. Cent units (scale-0 decimals)
      // rather than DECIMAL(18,2) sums because a scaled decimal whose
      // unscaled value exceeds 2^53 is cast to DOUBLE by dividing — TWO
      // roundings in DuckDB vs one in Spark/BigDecimal; a scale-0 decimal is
      // one correctly-rounded conversion in both. This is also how corr
      // aggregates distribute: five power sums, one partial+final agg.
      """WITH c AS (
           SELECT l_returnflag,
                  CAST(FLOOR(l_quantity * 100) AS BIGINT) AS qc,
                  CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS pc
           FROM lineitem),
         s AS (
           SELECT l_returnflag,
                  CAST(COUNT(*) AS DOUBLE) AS n,
                  CAST(SUM(qc) AS DOUBLE) AS sx,
                  CAST(SUM(pc) AS DOUBLE) AS sy,
                  CAST(SUM(CAST(qc AS DECIMAL(19,0)) * CAST(qc AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
                  CAST(SUM(CAST(pc AS DECIMAL(19,0)) * CAST(pc AS DECIMAL(19,0))) AS DOUBLE) AS syy,
                  CAST(SUM(CAST(qc AS DECIMAL(19,0)) * CAST(pc AS DECIMAL(19,0))) AS DOUBLE) AS sxy
           FROM c GROUP BY l_returnflag)
         SELECT l_returnflag,
                (n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_qty_price,
                ((n * sxy - sx * sy) / (n * n)) / 10000.0 AS covar_pop,
                (n * sxy - sx * sy) / (n * sxx - sx * sx) AS regr_slope
         FROM s ORDER BY l_returnflag"""
    ).oracle(
      """WITH c AS (
           SELECT l_returnflag,
                  CAST(FLOOR(l_quantity * 100) AS BIGINT) AS qc,
                  CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS pc
           FROM lineitem),
         s AS (
           SELECT l_returnflag,
                  CAST(COUNT(*) AS DOUBLE) AS n,
                  CAST(SUM(qc) AS DOUBLE) AS sx,
                  CAST(SUM(pc) AS DOUBLE) AS sy,
                  CAST(SUM(CAST(qc AS DECIMAL(19,0)) * CAST(qc AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
                  CAST(SUM(CAST(pc AS DECIMAL(19,0)) * CAST(pc AS DECIMAL(19,0))) AS DOUBLE) AS syy,
                  CAST(SUM(CAST(qc AS DECIMAL(19,0)) * CAST(pc AS DECIMAL(19,0))) AS DOUBLE) AS sxy
           FROM c GROUP BY l_returnflag)
         SELECT l_returnflag,
                (n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_qty_price,
                ((n * sxy - sx * sy) / (n * n)) / 10000.0 AS covar_pop,
                (n * sxy - sx * sy) / (n * sxx - sx * sx) AS regr_slope
         FROM s ORDER BY l_returnflag"""),
    fixed("q106_argmax_by", "customer", "nation").sql(
      // argmax/argmin per group via max_by/min_by over a composite ordering
      // struct (deterministic tie-break on the key). The oracle expresses the
      // same thing as MAX/MIN of a struct — both are one partial+final agg.
      """SELECT n.n_name,
                max_by(c.c_name, named_struct('bal', c.c_acctbal, 'key', c.c_custkey)) AS top_customer,
                MAX(c.c_acctbal) AS top_balance,
                min_by(c.c_name, named_struct('bal', c.c_acctbal, 'key', c.c_custkey)) AS bottom_customer
         FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
         GROUP BY n.n_name
         ORDER BY n_name"""
    ).oracle(
      """WITH g AS (
           SELECT n.n_name,
                  MAX({'bal': c.c_acctbal, 'key': c.c_custkey, 'nm': c.c_name}) AS mx,
                  MIN({'bal': c.c_acctbal, 'key': c.c_custkey, 'nm': c.c_name}) AS mn
           FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
           GROUP BY n.n_name)
         SELECT n_name, mx.nm AS top_customer, mx.bal AS top_balance, mn.nm AS bottom_customer
         FROM g ORDER BY n_name"""),
    fixed("q107_recursive_calendar", "orders").sql(
      // Recursive CTE (Spark 4 WITH RECURSIVE): build a month spine from the
      // data's own bounds, LEFT JOIN back for a gap-free monthly rollup —
      // empty months surface as zero rows. Recursion depth = #months
      // (bounded, driver-side plan growth only); the heavy side stays one
      // hash aggregate + join. Money sums travel as exact cent BIGINTs.
      """WITH RECURSIVE bounds AS (
           SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS m0,
                  CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS m1
           FROM orders),
         months(m, mend) AS (
           SELECT m0, m1 FROM bounds
           UNION ALL
           SELECT CAST(m + INTERVAL 1 MONTH AS DATE), mend FROM months WHERE m < mend
         )
         SELECT months.m, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
                CAST(COALESCE(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS cents
         FROM months
         LEFT JOIN orders o ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = months.m
         GROUP BY months.m
         ORDER BY months.m"""
    ).oracle(
      """WITH RECURSIVE bounds AS (
           SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS m0,
                  CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS m1
           FROM orders),
         months(m, mend) AS (
           SELECT m0, m1 FROM bounds
           UNION ALL
           SELECT CAST(m + INTERVAL 1 MONTH AS DATE), mend FROM months WHERE m < mend
         )
         SELECT months.m, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
                CAST(COALESCE(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS cents
         FROM months
         LEFT JOIN orders o ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = months.m
         GROUP BY months.m
         ORDER BY months.m"""),
    fixed("q108_time_range_window", "orders").sql(
      // Time-interval RANGE frame: trailing 28-day count/sum per customer —
      // the moving-window-over-real-time shape (sessionized spend, rate
      // limiting). RANGE frames include timestamp peers, so results are
      // deterministic without a unique order key in the frame spec.
      """SELECT o_custkey, o_orderkey, o_orderdate,
                CAST(COUNT(*) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate
                  RANGE BETWEEN INTERVAL 28 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS n_28d,
                CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate
                  RANGE BETWEEN INTERVAL 28 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_28d
         FROM orders
         WHERE o_custkey < 200
         ORDER BY o_custkey, o_orderdate, o_orderkey"""
    ).oracle(
      """SELECT o_custkey, o_orderkey, o_orderdate,
                CAST(COUNT(*) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate
                  RANGE BETWEEN INTERVAL 28 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS n_28d,
                CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate
                  RANGE BETWEEN INTERVAL 28 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_28d
         FROM orders
         WHERE o_custkey < 200
         ORDER BY o_custkey, o_orderdate, o_orderkey"""),
    fixed("q109_histogram_bins", "orders").sql(
      // Equal-width histogram per group with a generated bin spine so empty
      // bins surface as zero rows (the width_bucket recipe, written as
      // explicit FLOOR arithmetic — the same IEEE expression both engines).
      // bounds is a 1-row broadcast; the spine CROSS JOIN is |groups|×bins.
      """WITH bounds AS (
           SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders),
         binned AS (
           SELECT o_orderpriority AS pri,
                  CAST(LEAST(FLOOR((o_totalprice - lo) / ((hi - lo) / 10.0)), 9) AS BIGINT) AS b
           FROM orders CROSS JOIN bounds),
         spine AS (
           SELECT pri, sb
           FROM (SELECT DISTINCT o_orderpriority AS pri FROM orders) p
           CROSS JOIN (SELECT explode(sequence(0, 9)) AS sb) bs)
         SELECT spine.pri AS o_orderpriority, CAST(spine.sb AS BIGINT) AS bin,
                CAST(COUNT(binned.b) AS BIGINT) AS n
         FROM spine LEFT JOIN binned
           ON binned.pri = spine.pri AND binned.b = spine.sb
         GROUP BY spine.pri, spine.sb
         ORDER BY 1, 2"""
    ).oracle(
      """WITH bounds AS (
           SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders),
         binned AS (
           SELECT o_orderpriority AS pri,
                  CAST(LEAST(FLOOR((o_totalprice - lo) / ((hi - lo) / 10.0)), 9) AS BIGINT) AS b
           FROM orders CROSS JOIN bounds),
         spine AS (
           SELECT pri, sb
           FROM (SELECT DISTINCT o_orderpriority AS pri FROM orders) p
           CROSS JOIN (SELECT UNNEST(generate_series(0, 9)) AS sb) bs)
         SELECT spine.pri AS o_orderpriority, CAST(spine.sb AS BIGINT) AS bin,
                CAST(COUNT(binned.b) AS BIGINT) AS n
         FROM spine LEFT JOIN binned
           ON binned.pri = spine.pri AND binned.b = spine.sb
         GROUP BY spine.pri, spine.sb
         ORDER BY 1, 2"""),
    fixed("q110_try_arithmetic", "lineitem").sql(
      // Error-safe arithmetic (ANSI try_* family): divide-by-zero, bad
      // string→int casts, and BIGINT overflow all degrade to NULL instead of
      // failing the job — the semantics a 100 TB batch needs (one poison row
      // must not kill a stage). The oracle spells the same semantics with
      // NULLIF/CASE/TRY_CAST.
      """SELECT l_orderkey, l_linenumber,
                try_divide(CAST(l_extendedprice AS DOUBLE), CAST(FLOOR(l_quantity) AS BIGINT) - 25) AS safe_div,
                TRY_CAST(l_returnflag AS INTEGER) AS flag_num,
                TRY_CAST(CONCAT(CAST(l_orderkey AS STRING), CAST(l_linenumber AS STRING)) AS INTEGER) AS digits,
                try_add(9223372036854775707L, l_orderkey) AS near_max
         FROM lineitem
         WHERE l_orderkey <= 200
         ORDER BY l_orderkey, l_linenumber"""
    ).oracle(
      """SELECT l_orderkey, l_linenumber,
                CAST(l_extendedprice AS DOUBLE) / NULLIF(CAST(FLOOR(l_quantity) AS BIGINT) - 25, 0) AS safe_div,
                TRY_CAST(l_returnflag AS INTEGER) AS flag_num,
                TRY_CAST(CONCAT(CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR)) AS INTEGER) AS digits,
                CASE WHEN l_orderkey > 100 THEN NULL ELSE 9223372036854775707 + l_orderkey END AS near_max
         FROM lineitem
         WHERE l_orderkey <= 200
         ORDER BY l_orderkey, l_linenumber"""),
    fixed("q111_count_distribution", "customer", "orders").sql(
      // TPC-H Q13 shape: distribution of per-customer order counts — a LEFT
      // JOIN with a join-time filter (not a WHERE, which would drop the
      // zero-order customers), then an aggregate OF an aggregate. Two
      // shuffles: custkey, then c_count.
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
           SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
           FROM customer c LEFT JOIN orders o
             ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
           GROUP BY c.c_custkey) t
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC"""
    ).oracle(
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
           SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
           FROM customer c LEFT JOIN orders o
             ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
           GROUP BY c.c_custkey) t
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC"""),
    fixed("q112_distinct_listagg", "orders").sql(
      // Distinct ordered list aggregation: Spark spells it
      // collect_set → sort_array → array_join (deterministic output without
      // a listagg DISTINCT form); the oracle uses DuckDB's native
      // string_agg(DISTINCT ... ORDER BY ...).
      """SELECT o_orderpriority,
                array_join(sort_array(collect_set(o_orderstatus)), ',') AS statuses,
                CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
         FROM orders
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority"""
    ).oracle(
      """SELECT o_orderpriority,
                string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
                CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
         FROM orders
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority"""),
    fixed("q115_lateral_topk", "customer", "orders").sql(
      // Correlated LATERAL subquery with ORDER BY + LIMIT: per-customer
      // top-2 orders. Catalyst decorrelates to a ranked window join —
      // no per-row subquery execution (same class as q104's scalar MIN).
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
         ORDER BY c_custkey, o_totalprice DESC, o_orderkey"""
    ).oracle(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
         ORDER BY c_custkey, o_totalprice DESC, o_orderkey"""),
    fixed("q120_correlated_avg_filter", "lineitem", "part").sql(
      // TPC-H Q17 shape: correlated per-part average threshold. Catalyst
      // decorrelates the scalar subquery into an aggregate + join on
      // l_partkey — one pass over lineitem for the averages, no per-row
      // subquery. Revenue carried as exact integer cents.
      """SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
               CAST(COUNT(*) AS BIGINT) AS n_small
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                              FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)"""
    ).oracle(
      """SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
               CAST(COUNT(*) AS BIGINT) AS n_small
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                              FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)"""),
    fixed("q121_grouped_having_in", "customer", "orders", "lineitem").sql(
      // TPC-H Q18 shape: IN over a grouped-HAVING subquery (large-quantity
      // orders), then a 3-way join + re-aggregation. The IN materializes as
      // a semi-join on o_orderkey; quantities are integer-valued doubles →
      // BIGINT sums are exact.
      """SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice,
               CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                               GROUP BY l_orderkey
                               HAVING SUM(l_quantity) > 150)
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice
        ORDER BY sum_qty DESC, o_orderkey"""
    ).oracle(
      """SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice,
               CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                               GROUP BY l_orderkey
                               HAVING SUM(l_quantity) > 150)
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice
        ORDER BY sum_qty DESC, o_orderkey"""),
    fixed("q122_exists_notexists_chain", "supplier", "lineitem", "orders", "nation").sql(
      // TPC-H Q21 shape: EXISTS (another supplier contributed to the order)
      // AND NOT EXISTS (another supplier's line was returned) — two
      // correlated set-predicates on the same join key, planned as one
      // semi- and one anti-join on l_orderkey.
      """SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
          AND n.n_nationkey < 15
        GROUP BY s.s_name
        ORDER BY numwait DESC, s_name"""
    ).oracle(
      """SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
          AND n.n_nationkey < 15
        GROUP BY s.s_name
        ORDER BY numwait DESC, s_name"""),
    fixed("q123_global_avg_antijoin", "customer", "orders").sql(
      // TPC-H Q22 shape: segment buckets + uncorrelated scalar AVG threshold
      // + NOT EXISTS anti-join. Balances compare as exact integer cents (a
      // double AVG of raw balances would be partition-order-dependent).
      """WITH cents AS (
          SELECT c_custkey, c_custkey % 7 AS segment,
                 CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal_cents
          FROM customer)
        SELECT segment, CAST(COUNT(*) AS BIGINT) AS numcust,
               CAST(SUM(bal_cents) AS BIGINT) AS totbal_cents
        FROM cents c
        WHERE segment IN (1, 3, 5)
          AND bal_cents > (SELECT AVG(bal_cents) FROM cents WHERE bal_cents > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'P' AND o.o_totalprice > 200000)
        GROUP BY segment
        ORDER BY segment"""
    ).oracle(
      """WITH cents AS (
          SELECT c_custkey, c_custkey % 7 AS segment,
                 CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal_cents
          FROM customer)
        SELECT segment, CAST(COUNT(*) AS BIGINT) AS numcust,
               CAST(SUM(bal_cents) AS BIGINT) AS totbal_cents
        FROM cents c
        WHERE segment IN (1, 3, 5)
          AND bal_cents > (SELECT AVG(bal_cents) FROM cents WHERE bal_cents > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'P' AND o.o_totalprice > 200000)
        GROUP BY segment
        ORDER BY segment"""),
    fixed("q131_asof_forward", "events") { (spark, ctx, _) =>
      // FORWARD as-of (AsOfJoin.keyedEarliestAfter): for each view event,
      // the same user's next purchase at-or-after it — one shuffle keyed on
      // user_id, mirrored union+window, no single-partition operator.
      // Oracle: DuckDB keyed ASOF with the reversed inequality (ts <= ts).
      val ev = ctx.view("events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"))
      graft.operators.AsOfJoin
        .keyedEarliestAfter(views, "ts", Seq("user_id"), purchases, "pts", "next_purchase_ts")
        .select(col("event_id"), col("next_purchase_ts"))
        .orderBy("event_id")
    }.oracle(
      """SELECT e.event_id, p.next_purchase_ts
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') e
        ASOF LEFT JOIN (SELECT user_id, ts AS next_purchase_ts FROM events
                        WHERE event_type = 'purchase') p
          ON e.user_id = p.user_id AND e.ts <= p.next_purchase_ts
        ORDER BY e.event_id"""),
  )
}
