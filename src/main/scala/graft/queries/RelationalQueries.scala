package graft.queries

import graft.{Canon, QueryDef, Tables}
import graft.Canon._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational surface: scans, filters, projections, joins J1–J10,
  * aggregations A3–A7, windows W1–W4, set ops, scalar-function batteries
  * (SURVEY.md §2.14 Q1–Q28). Each entry pairs the Spark plan with the DuckDB
  * oracle SQL; canonicalization per Canon.
  *
  * Scale notes are on each query: joins name their expected physical
  * strategy (broadcast vs shuffle) and every aggregate is partial-agg
  * friendly (no driver-side collection anywhere).
  */
object RelationalQueries {

  val all: Seq[QueryDef] = Seq(
    // ---- Q1: scan + filter pushdown + agg --------------------------------
    QueryDef(
      "q01_filter_scan",
      """SELECT count(*)::BIGINT AS n_rows,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).lineitem
        .filter(
          $"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1996-01-01").cast("timestamp"))
        .agg(count(lit(1)).as("n_rows"), sumMoney($"l_extendedprice").as("sum_price"))
    },

    // ---- Q2: projection + expression + global top-k ----------------------
    QueryDef(
      "q02_project_topk",
      """SELECT l_orderkey, l_linenumber,
        |       CAST(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        |FROM lineitem
        |ORDER BY revenue DESC, l_orderkey, l_linenumber LIMIT 100""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).lineitem
        .select(
          $"l_orderkey",
          $"l_linenumber",
          dec($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax"), 2).as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey", $"l_linenumber")
        .limit(100) // TakeOrderedAndProject: no global sort materialized
    },

    // ---- Q3: TPC-H Q1-shaped multi-measure hash aggregate ----------------
    QueryDef(
      "q03_groupby_agg",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS sum_disc_price,
        |       CAST(CAST(round(CAST(avg(l_quantity) AS DECIMAL(18,6)), 2) AS DECIMAL(18,2)) AS DOUBLE) AS avg_qty,
        |       CAST(CAST(round(CAST(avg(l_extendedprice) AS DECIMAL(18,6)), 2) AS DECIMAL(18,2)) AS DOUBLE) AS avg_price,
        |       CAST(CAST(round(avg(l_discount), 4) AS DECIMAL(18,4)) AS DOUBLE) AS avg_disc,
        |       count(*)::BIGINT AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).lineitem
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sumMoney($"l_quantity").as("sum_qty"),
          sumMoney($"l_extendedprice").as("sum_base_price"),
          out(round(sum(discounted($"l_extendedprice", $"l_discount")), 2).cast(Money)).as("sum_disc_price"),
          avg2($"l_quantity").as("avg_qty"),
          avg2($"l_extendedprice").as("avg_price"),
          dec(avg($"l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    // ---- Q4: distinct aggregate ------------------------------------------
    QueryDef(
      "q04_distinct_agg",
      """SELECT o_orderpriority,
        |       count(DISTINCT o_custkey)::BIGINT AS n_cust,
        |       count(*)::BIGINT AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).orders
        .groupBy($"o_orderpriority")
        .agg(countDistinct($"o_custkey").as("n_cust"), count(lit(1)).as("n_orders"))
        .orderBy($"o_orderpriority")
    },

    // ---- Q5: rollup + grouping_id over a broadcast dim chain -------------
    QueryDef(
      "q05_rollup",
      """SELECT r_name, n_name, count(*)::BIGINT AS n_customers,
        |       GROUPING(r_name, n_name) AS gid
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST, gid""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      t.customer
        .join(broadcast(t.nation), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(t.region), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_customers"), grouping_id().as("gid"))
        .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first, $"gid")
    },

    // ---- Q6: cube --------------------------------------------------------
    QueryDef(
      "q06_cube",
      """SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       GROUPING(o_orderstatus, o_orderpriority) AS gid
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, gid""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).orders
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), sumMoney($"o_totalprice").as("sum_price"),
          grouping_id().as("gid"))
        .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first, $"gid")
    },

    // ---- Q7: multi-way star join (broadcast dims, shuffle fact) ----------
    QueryDef(
      "q07_star_join",
      """SELECT r_name, n_name, count(*)::BIGINT AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      // customer is small relative to orders at every SF ratio (1:10) but
      // grows with SF; nation/region are constant-size -> always broadcast.
      t.orders
        .join(t.customer, $"o_custkey" === $"c_custkey")
        .join(broadcast(t.nation), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(t.region), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_orders"), sumMoney($"o_totalprice").as("revenue"))
        .orderBy($"r_name", $"n_name")
    },

    // ---- Q8: fact-fact join (shuffle/sort-merge at scale) ----------------
    QueryDef(
      "q08_factfact_join",
      """SELECT o_orderstatus, count(*)::BIGINT AS n_lines,
        |       CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      t.orders.select($"o_orderkey", $"o_orderstatus")
        .join(t.lineitem.select($"l_orderkey", $"l_extendedprice", $"l_discount"),
          $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_lines"),
          out(round(sum(discounted($"l_extendedprice", $"l_discount")), 2).cast(Money)).as("revenue"))
        .orderBy($"o_orderstatus")
    },

    // ---- Q9: left outer join ---------------------------------------------
    QueryDef(
      "q09_left_join",
      """SELECT c_custkey, count(o_orderkey)::BIGINT AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      t.customer.select($"c_custkey")
        .join(t.orders.select($"o_custkey", $"o_orderkey"), $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("n_orders"))
        .orderBy($"c_custkey")
    },

    // ---- Q10: left semi join ---------------------------------------------
    QueryDef(
      "q10_semi_join",
      """SELECT p_partkey FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 40)
        |ORDER BY p_partkey""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      t.part
        .join(t.lineitem.filter($"l_quantity" > 40).select($"l_partkey"),
          $"p_partkey" === $"l_partkey", "left_semi")
        .select($"p_partkey")
        .orderBy($"p_partkey")
    },

    // ---- Q11: left anti join ---------------------------------------------
    QueryDef(
      "q11_anti_join",
      """SELECT count(*)::BIGINT AS n_customers,
        |       min(c_custkey) AS min_custkey, max(c_custkey) AS max_custkey
        |FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      t.customer
        .join(t.orders.select($"o_custkey"), $"c_custkey" === $"o_custkey", "left_anti")
        .agg(count(lit(1)).as("n_customers"),
          min($"c_custkey").as("min_custkey"), max($"c_custkey").as("max_custkey"))
    },

    // ---- Q49: right + full outer joins (J3 completes left/right/full) -----
    QueryDef(
      "q49_outer_joins",
      """WITH f AS (
        |  SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
        |         count(c.c_custkey) AS n_cust, count(s.s_suppkey) AS n_supp
        |  FROM (SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey <= 500) c
        |  FULL OUTER JOIN supplier s ON c.c_nationkey = s.s_nationkey
        |  GROUP BY 1
        |), r AS (
        |  SELECT count(*) AS n_right
        |  FROM (SELECT o_custkey FROM orders WHERE o_custkey <= 100) o
        |  RIGHT JOIN (SELECT c_custkey FROM customer WHERE c_custkey <= 200) c
        |    ON o.o_custkey = c.c_custkey
        |)
        |SELECT f.nationkey, f.n_cust, f.n_supp, r.n_right
        |FROM f CROSS JOIN r ORDER BY f.nationkey NULLS FIRST""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      val f = t.customer.filter($"c_custkey" <= 500).select($"c_custkey", $"c_nationkey")
        .join(t.supplier, $"c_nationkey" === $"s_nationkey", "full")
        .groupBy(coalesce($"c_nationkey", $"s_nationkey").as("nationkey"))
        .agg(count($"c_custkey").as("n_cust"), count($"s_suppkey").as("n_supp"))
      val r = t.orders.filter($"o_custkey" <= 100).select($"o_custkey")
        .join(t.customer.filter($"c_custkey" <= 200).select($"c_custkey"),
          $"o_custkey" === $"c_custkey", "right")
        .agg(count(lit(1)).as("n_right"))
      f.crossJoin(r).orderBy($"nationkey".asc_nulls_first)
    },

    // ---- Q12: theta/range join (small side broadcast -> BNLJ) ------------
    QueryDef(
      "q12_theta_join",
      """SELECT count(*)::BIGINT AS n_pairs,
        |       CAST(sum(p_partkey + s_suppkey) AS BIGINT) AS key_checksum
        |FROM part, supplier
        |WHERE p_retailprice BETWEEN s_acctbal * 0.1 AND s_acctbal * 0.5""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      // supplier is the 1% side; broadcast keeps this a single pass over part.
      t.part.join(broadcast(t.supplier),
          $"p_retailprice" >= $"s_acctbal" * 0.1 && $"p_retailprice" <= $"s_acctbal" * 0.5)
        .agg(count(lit(1)).as("n_pairs"),
          sum($"p_partkey" + $"s_suppkey").as("key_checksum"))
    },

    // ---- Q13: as-of join (latest order at/before each event) -------------
    QueryDef(
      "q13_asof_join",
      """WITH ranked AS (
        |  SELECT e.event_id, e.event_type, o.o_orderkey,
        |         row_number() OVER (PARTITION BY e.event_id
        |                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e
        |  LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |)
        |SELECT event_type,
        |       count(o_orderkey)::BIGINT AS matched,
        |       (count(*) - count(o_orderkey))::BIGINT AS unmatched,
        |       count(DISTINCT o_orderkey)::BIGINT AS distinct_orders
        |FROM ranked WHERE rn = 1
        |GROUP BY event_type ORDER BY event_type""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      val joined = graft.operators.AsOfJoin.latest(
        left = t.events.select($"event_id", $"event_type", $"user_id", $"ts"),
        right = t.orders.select($"o_custkey", $"o_orderkey", $"o_orderdate"),
        leftKey = $"user_id", rightKey = $"o_custkey",
        leftTime = $"ts", rightTime = $"o_orderdate",
        rightTieBreak = $"o_orderkey", leftRowKey = $"event_id")
      joined
        .groupBy($"event_type")
        .agg(
          count($"o_orderkey").as("matched"),
          (count(lit(1)) - count($"o_orderkey")).as("unmatched"),
          countDistinct($"o_orderkey").as("distinct_orders"))
        .orderBy($"event_type")
    },

    // ---- Q14: interval self-join (events of same user within 10 min) -----
    QueryDef(
      "q14_interval_join",
      """SELECT a.event_type, count(*)::BIGINT AS n_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
        |GROUP BY a.event_type ORDER BY a.event_type""",
    ) { (spark, dir) =>
      import spark.implicits._
      val e = Tables(spark, dir).events
      val a = e.select($"user_id".as("a_user"), $"ts".as("a_ts"), $"event_type".as("a_type"))
      val b = e.select($"user_id".as("b_user"), $"ts".as("b_ts"))
      // Equi-join on user_id carries the shuffle; the time band is a post-join
      // filter, so this stays a hash/sort-merge join (never a nested loop).
      a.join(b,
          $"a_user" === $"b_user" &&
            unix_micros($"b_ts") > unix_micros($"a_ts") &&
            unix_micros($"b_ts") <= unix_micros($"a_ts") + lit(600000000L))
        .groupBy($"a_type".as("event_type"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy($"event_type")
    },

    // ---- Q15: cross join (explicit, bounded) ------------------------------
    QueryDef(
      "q15_cross_join",
      """SELECT count(*)::BIGINT AS n_rows,
        |       min(r_name || '|' || n_name) AS min_k,
        |       max(r_name || '|' || n_name) AS max_k
        |FROM region CROSS JOIN nation""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      t.region.crossJoin(t.nation)
        .select(concat_ws("|", $"r_name", $"n_name").as("k"))
        .agg(count(lit(1)).as("n_rows"), min($"k").as("min_k"), max($"k").as("max_k"))
    },

    // ---- Q16: set ops -----------------------------------------------------
    QueryDef(
      "q16a_except",
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      t.customer.select($"c_nationkey".as("nationkey"))
        .except(t.supplier.select($"s_nationkey".as("nationkey")))
        .orderBy($"nationkey")
    },
    QueryDef(
      "q16b_intersect",
      """SELECT count(*)::BIGINT AS n_common FROM (
        |  SELECT c_nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier
        |) x""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      t.customer.select($"c_nationkey")
        .intersect(t.supplier.select($"s_nationkey"))
        .agg(count(lit(1)).as("n_common"))
    },

    // ---- Q17: global top-k ------------------------------------------------
    QueryDef(
      "q17_topk_orders",
      """SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).orders
        .select($"o_orderkey", out(money($"o_totalprice")).as("o_totalprice"))
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(20)
    },

    // ---- Q18: ranking windows --------------------------------------------
    QueryDef(
      "q18_window_rank",
      """SELECT o_custkey, o_orderkey, rn, rk, drk FROM (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER w AS rn, rank() OVER w AS rk, dense_rank() OVER w AS drk
        |  FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |) x WHERE rk <= 3 ORDER BY o_custkey, o_orderkey""",
    ) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      Tables(spark, dir).orders
        .select($"o_custkey", $"o_orderkey",
          row_number().over(w).as("rn"), rank().over(w).as("rk"), dense_rank().over(w).as("drk"))
        .filter($"rk" <= 3)
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // ---- Q19: lag ---------------------------------------------------------
    QueryDef(
      "q19_window_lag",
      """SELECT o_custkey, o_orderkey,
        |       CAST(CAST(round(o_totalprice - lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS DECIMAL(18,2)) AS DOUBLE) AS delta
        |FROM orders ORDER BY o_custkey, o_orderkey""",
    ) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      Tables(spark, dir).orders
        .select($"o_custkey", $"o_orderkey",
          dec($"o_totalprice" - lag($"o_totalprice", 1).over(w), 2).as("delta"))
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // ---- Q20: running sum -------------------------------------------------
    QueryDef(
      "q20_window_runsum",
      """SELECT o_custkey, o_orderkey,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total
        |FROM orders ORDER BY o_custkey, o_orderkey""",
    ) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(spark, dir).orders
        .select($"o_custkey", $"o_orderkey",
          out(sum(money($"o_totalprice")).over(w)).as("run_total"))
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // ---- Q21: top-k per group --------------------------------------------
    QueryDef(
      "q21_window_topk_per_group",
      """SELECT l_orderkey, l_linenumber, price, rn FROM (
        |  SELECT l_orderkey, l_linenumber, CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
        |         row_number() OVER (PARTITION BY l_orderkey
        |                            ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)) DESC, l_linenumber) AS rn
        |  FROM lineitem
        |) x WHERE rn <= 2 ORDER BY l_orderkey, rn""",
    ) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"l_orderkey").orderBy(money($"l_extendedprice").desc, $"l_linenumber")
      Tables(spark, dir).lineitem
        .select($"l_orderkey", $"l_linenumber", out(money($"l_extendedprice")).as("price"),
          row_number().over(w).as("rn"))
        .filter($"rn" <= 2)
        .orderBy($"l_orderkey", $"rn")
    },

    // ---- Q22: string function battery ------------------------------------
    QueryDef(
      "q22_string_funcs",
      """SELECT c_custkey,
        |       upper(c_name) AS uname,
        |       substr(c_name, 1, 10) AS prefix,
        |       length(c_name)::INTEGER AS name_len,
        |       regexp_extract(c_name, '([0-9]+)$', 1) AS digits,
        |       concat_ws('-', c_mktsegment, lpad(CAST(c_custkey AS VARCHAR), 8, '0')) AS seg_key,
        |       lower(trim(c_mktsegment)) AS seg
        |FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).customer
        .filter($"c_custkey" <= 200)
        .select($"c_custkey",
          upper($"c_name").as("uname"),
          substring($"c_name", 1, 10).as("prefix"),
          length($"c_name").as("name_len"),
          regexp_extract($"c_name", "([0-9]+)$", 1).as("digits"),
          concat_ws("-", $"c_mktsegment", lpad($"c_custkey".cast("string"), 8, "0")).as("seg_key"),
          lower(trim($"c_mktsegment")).as("seg"))
        .orderBy($"c_custkey")
    },

    // ---- Q23: date function battery --------------------------------------
    QueryDef(
      "q23a_date_trunc",
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
        |       count(*)::BIGINT AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).orders
        .groupBy(dateStr(date_trunc("month", $"o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy($"month")
    },
    QueryDef(
      "q23b_date_range",
      """SELECT datediff('day', min(l_shipdate), max(l_shipdate))::INTEGER AS ship_span_days,
        |       strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
        |       strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship,
        |       strftime(max(l_shipdate) + INTERVAL 30 DAY, '%Y-%m-%d') AS max_ship_plus30
        |FROM lineitem""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).lineitem
        .agg(
          datediff(max($"l_shipdate"), min($"l_shipdate")).as("ship_span_days"),
          dateStr(min($"l_shipdate")).as("min_ship"),
          dateStr(max($"l_shipdate")).as("max_ship"),
          dateStr(date_add(max($"l_shipdate"), 30)).as("max_ship_plus30"))
    },

    // ---- Q24: math function battery --------------------------------------
    QueryDef(
      "q24_math_funcs",
      """SELECT o_orderkey % 7 AS bucket, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(round(sqrt(o_totalprice), 4) AS DECIMAL(18,4))) AS DOUBLE) AS sum_sqrt,
        |       CAST(sum(CAST(round(ln(o_totalprice), 4) AS DECIMAL(18,4))) AS DOUBLE) AS sum_ln,
        |       CAST(CAST(round(max(abs(o_totalprice - 100000)), 2) AS DECIMAL(18,2)) AS DOUBLE) AS max_abs_dev
        |FROM orders GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).orders
        .groupBy(pmod($"o_orderkey", lit(7)).as("bucket"))
        .agg(count(lit(1)).as("n"),
          out(sum(decIn(sqrt($"o_totalprice"), 4))).as("sum_sqrt"),
          out(sum(decIn(log($"o_totalprice"), 4))).as("sum_ln"),
          dec(max(abs($"o_totalprice" - 100000)), 2).as("max_abs_dev"))
        .orderBy($"bucket")
    },

    // ---- Q25: array functions (collect_list etc.) -------------------------
    QueryDef(
      "q25_arrays",
      """SELECT l_orderkey,
        |       array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
        |       len(list(l_linenumber))::INTEGER AS n_lines,
        |       list_sort(list(l_linenumber))[1] AS first_line
        |FROM lineitem WHERE l_orderkey <= 2000
        |GROUP BY l_orderkey ORDER BY l_orderkey""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).lineitem
        .filter($"l_orderkey" <= 2000)
        .groupBy($"l_orderkey")
        .agg(
          concat_ws(",", array_sort(collect_list($"l_linenumber"))).as("line_numbers"),
          size(collect_list($"l_linenumber")).as("n_lines"),
          element_at(array_sort(collect_list($"l_linenumber")), 1).as("first_line"))
        .orderBy($"l_orderkey")
    },

    // ---- Q26: JSON extraction --------------------------------------------
    QueryDef(
      "q26_json",
      """SELECT event_type,
        |       CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
        |       count(*)::BIGINT AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    ) { (spark, dir) =>
      import spark.implicits._
      val k = get_json_object($"props", "$.k").cast("int")
      Tables(spark, dir).events
        .groupBy($"event_type", pmod(k, lit(10)).as("k_bucket"))
        .agg(count(lit(1)).as("n"), sum(k).as("sum_k"))
        .orderBy($"event_type", $"k_bucket")
    },

    // ---- Q27: CASE bands × coalesce/nullif --------------------------------
    QueryDef(
      "q27_case_bands",
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'xs' WHEN o_totalprice < 100000 THEN 's'
        |            WHEN o_totalprice < 200000 THEN 'm' WHEN o_totalprice < 300000 THEN 'l'
        |            ELSE 'xl' END AS band,
        |       coalesce(nullif(o_orderpriority, '3-MEDIUM'), 'none') AS prio,
        |       count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",
    ) { (spark, dir) =>
      import spark.implicits._
      val band = when($"o_totalprice" < 50000, "xs")
        .when($"o_totalprice" < 100000, "s")
        .when($"o_totalprice" < 200000, "m")
        .when($"o_totalprice" < 300000, "l")
        .otherwise("xl")
      val prio = coalesce(nullif($"o_orderpriority", lit("3-MEDIUM")), lit("none"))
      Tables(spark, dir).orders
        .groupBy(band.as("band"), prio.as("prio"))
        .agg(count(lit(1)).as("n"), sumMoney($"o_totalprice").as("sum_price"))
        .orderBy($"band", $"prio")
    },

    // ---- Q47: analytic windows (ntile, first/last_value, lead, and a
    // value-based RANGE frame — the count is frame-deterministic under
    // date ties because RANGE includes peers by value, not row order) --------
    QueryDef(
      "q47_window_analytics",
      """SELECT o_custkey, o_orderkey,
        |       ntile(4) OVER w AS quartile,
        |       first_value(o_orderkey) OVER w AS first_key,
        |       last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key,
        |       lead(o_orderkey) OVER w AS next_key,
        |       count(*) OVER (PARTITION BY o_custkey
        |         ORDER BY datediff('day', DATE '1992-01-01', o_orderdate)
        |         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n_orders_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""",
    ) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wRange = Window.partitionBy($"o_custkey")
        .orderBy(datediff($"o_orderdate", lit("1992-01-01").cast("date")))
        .rangeBetween(-30, Window.currentRow)
      Tables(spark, dir).orders
        .select($"o_custkey", $"o_orderkey",
          ntile(4).over(w).as("quartile"),
          first($"o_orderkey").over(w).as("first_key"),
          last($"o_orderkey").over(wFull).as("last_key"),
          lead($"o_orderkey", 1).over(w).as("next_key"),
          count(lit(1)).over(wRange).as("n_orders_30d"))
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // ---- Q48: string distance + greatest/least battery ---------------------
    QueryDef(
      "q48_string_distance",
      """SELECT c_custkey,
        |       levenshtein(substr(c_name, 1, 12), 'Customer0000') AS lev,
        |       greatest(round(c_acctbal, 0), 0)::DOUBLE AS g,
        |       least(round(c_acctbal, 0), 5000)::DOUBLE AS l
        |FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).customer
        .filter($"c_custkey" <= 300)
        .select($"c_custkey",
          levenshtein(substring($"c_name", 1, 12), lit("Customer0000")).as("lev"),
          greatest(round($"c_acctbal", 0), lit(0)).cast("double").as("g"),
          least(round($"c_acctbal", 0), lit(5000)).cast("double").as("l"))
        .orderBy($"c_custkey")
    },

    // ---- Q52: union / unionByName (O4) ------------------------------------
    QueryDef(
      "q52_union",
      """WITH u AS (
        |  SELECT c_custkey AS key, c_name AS name, 'customer' AS src FROM customer
        |  UNION ALL
        |  SELECT s_suppkey AS key, s_name AS name, 'supplier' AS src FROM supplier
        |  UNION ALL
        |  SELECT n_nationkey AS key, n_name AS name, NULL AS src FROM nation
        |)
        |SELECT src, count(*)::BIGINT AS n,
        |       CAST(sum(key) AS BIGINT) AS key_checksum,
        |       min(name) AS min_name, max(name) AS max_name
        |FROM u GROUP BY src ORDER BY src NULLS FIRST""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      val cust = t.customer.select($"c_custkey".as("key"), $"c_name".as("name"),
        lit("customer").as("src"))
      val supp = t.supplier.select($"s_suppkey".as("key"), $"s_name".as("name"),
        lit("supplier").as("src"))
      // nation deliberately lacks `src`: unionByName(allowMissingColumns)
      // null-fills it, exercising by-name (not positional) resolution
      val nat = t.nation.select($"n_nationkey".as("key"), $"n_name".as("name"))
      cust.union(supp) // positional union-all; no shuffle, plain concat
        .unionByName(nat, allowMissingColumns = true)
        .groupBy($"src")
        .agg(count(lit(1)).as("n"),
          sum($"key").cast("long").as("key_checksum"),
          min($"name").as("min_name"), max($"name").as("max_name"))
        .orderBy($"src".asc_nulls_first)
    },

    // ---- Q54: exact percentiles (A battery extra). Integer-valued input
    // keeps the linear interpolation bit-exact in both engines (sums and
    // scaled differences of <2^53 integers are exact doubles), so the
    // continuous quantile hash-matches with no rounding shim.
    QueryDef(
      "q54_percentiles",
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       quantile_cont(o_custkey, 0.25) AS p25,
        |       quantile_cont(o_custkey, 0.5) AS p50,
        |       quantile_cont(o_custkey, 0.9) AS p90
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).orders
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"),
          percentile($"o_custkey", lit(0.25)).as("p25"),
          percentile($"o_custkey", lit(0.5)).as("p50"),
          percentile($"o_custkey", lit(0.9)).as("p90"))
        .orderBy($"o_orderstatus")
    },

    // ---- Q55: pivot (wide conditional aggregation). Spark's pivot with
    // explicit values is exactly grouped FILTERed aggregation — no extra
    // pass to discover the pivot domain — so the oracle states it that
    // way portably.
    QueryDef(
      "q55_pivot",
      """SELECT o_orderpriority,
        |       count(*) FILTER (o_orderstatus = 'F')::BIGINT AS F_n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'F') AS DOUBLE) AS F_rev,
        |       count(*) FILTER (o_orderstatus = 'O')::BIGINT AS O_n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'O') AS DOUBLE) AS O_rev,
        |       count(*) FILTER (o_orderstatus = 'P')::BIGINT AS P_n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'P') AS DOUBLE) AS P_rev
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).orders
        .groupBy($"o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)).as("n"), sumMoney($"o_totalprice").as("rev"))
        // empty pivot cell: Spark emits null, COUNT FILTER emits 0 — align
        .na.fill(0L, Seq("F_n", "O_n", "P_n"))
        .orderBy($"o_orderpriority")
    },

    // ---- Q57: salted skew join (J-battery extra). Salting is result-
    // invariant — the oracle is the plain join — so the gate proves the
    // skew mechanics (per-row fact salt, dim exploded factor ways,
    // (key, salt) join) change nothing but the partition distribution.
    QueryDef(
      "q57_salted_join",
      """SELECT c_mktsegment, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      graft.operators.SaltedJoin.inner(
        t.events, t.customer.select($"c_custkey", $"c_mktsegment"),
        $"user_id", $"c_custkey", factor = 8)
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), sumMoney($"value").as("sum_value"))
        .orderBy($"c_mktsegment")
    },

    // ---- Q58: explicit GROUPING SETS (A6 generalization beyond
    // rollup/cube: an arbitrary set list incl. the grand total), driven
    // through the engine's SQL entry — Catalyst expands it to the same
    // Expand + single-shuffle aggregate as the Column-API rollup.
    QueryDef(
      "q58_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS n,
        |       GROUPING(o_orderstatus, o_orderpriority) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    ) { (spark, dir) =>
      Tables(spark, dir).orders.createOrReplaceTempView("orders_v")
      // Spark's bitmask form is GROUPING_ID (GROUPING is single-column);
      // DuckDB's multi-arg GROUPING returns the same bitmask
      spark.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          |       GROUPING_ID(o_orderstatus, o_orderpriority) AS gid
          |FROM orders_v
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
          |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    },

    // ---- Q59: correlated subqueries — EXISTS / NOT EXISTS decorrelate
    // to semi/anti joins, the scalar subquery to a left-joined aggregate;
    // the same SQL text runs in both engines.
    QueryDef(
      "q59_subqueries",
      """SELECT c_custkey, c_name,
        |       CAST(CAST((SELECT max(o_totalprice) FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey) AS DECIMAL(18,2)) AS DOUBLE) AS max_order
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |              AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o2 WHERE o2.o_custkey = c.c_custkey
        |                  AND o2.o_orderstatus = 'F')
        |ORDER BY c_custkey""",
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.customer.createOrReplaceTempView("customer")
      t.orders.createOrReplaceTempView("orders")
      spark.sql(
        """SELECT c_custkey, c_name,
          |       CAST(CAST((SELECT max(o_totalprice) FROM orders o
          |                  WHERE o.o_custkey = c.c_custkey) AS DECIMAL(18,2)) AS DOUBLE) AS max_order
          |FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
          |              AND o.o_orderpriority = '1-URGENT')
          |  AND NOT EXISTS (SELECT 1 FROM orders o2 WHERE o2.o_custkey = c.c_custkey
          |                  AND o2.o_orderstatus = 'F')
          |ORDER BY c_custkey""".stripMargin)
    },

    // ---- Q60: distribution window functions (W1 completion). percent_rank
    // and cume_dist emit exact integer ratios — one IEEE division in both
    // engines, bit-identical — so no rounding shim is needed.
    QueryDef(
      "q60_window_dist",
      """SELECT o_custkey, o_orderkey,
        |       percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS pr,
        |       cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS cd,
        |       nth_value(o_orderkey, 2) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key
        |FROM orders ORDER BY o_custkey, o_orderkey""",
    ) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(spark, dir).orders
        .select($"o_custkey", $"o_orderkey",
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          nth_value($"o_orderkey", 2).over(full).as("second_key"))
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // ---- Q28: coalesce fallback chain (F1–F3 analog) ----------------------
    QueryDef(
      "q28_coalesce_chain",
      """SELECT coalesce(nullif(o_orderpriority, '3-MEDIUM'), o_orderstatus, 'NA') AS k,
        |       count(*)::BIGINT AS n
        |FROM orders GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).orders
        .groupBy(coalesce(nullif($"o_orderpriority", lit("3-MEDIUM")), $"o_orderstatus", lit("NA")).as("k"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"k")
    },

    // ---- q65: A5 approx distinct, driver-gated — HLL sketches differ
    // between engines, so the gated row is the exact distinct (computed by
    // both) plus an INT flag asserting Spark's HLL landed within its
    // declared 5% envelope; a sketch regression flips the flag and fails
    // the hash gate, same pattern as the q50 recall summary. -----------------
    QueryDef(
      "q65_approx_distinct",
      """SELECT count(DISTINCT o_custkey)::BIGINT AS exact_custkeys,
        |       1 AS hll_within_5pct
        |FROM orders""",
    ) { (spark, dir) =>
      import spark.implicits._
      val row = Tables(spark, dir).orders
        .agg(countDistinct($"o_custkey").as("exact"),
          // rsd is one sigma, not a bound: the default 0.05 strays past 5%
          // roughly a third of the time (and did, at sf0.01). HLL is
          // deterministic per input, so the gate is stable once it clears:
          // rsd=0.02 measures <=0.6% actual error on every testdata SF
          // (8x margin) and costs 4x less than the 2-second rsd=0.01 sketch.
          approx_count_distinct($"o_custkey", 0.02).as("approx"))
        .head()
      val (exact, approx) = (row.getLong(0), row.getLong(1))
      val ok = math.abs(approx - exact).toDouble / exact <= 0.05
      Seq((exact, if (ok) 1 else 0)).toDF("exact_custkeys", "hll_within_5pct")
    },

    // ---- q66: S4 CSV/JSON sources, driver-gated — the engine writes the
    // nation table out as CSV and JSON, reads both back with explicit
    // schemas, and aggregates; the oracle computes the same aggregate from
    // the parquet source, so any row/value corruption in either format's
    // round trip breaks the hash match. -------------------------------------
    QueryDef(
      "q66_csv_json_roundtrip",
      """SELECT fmt, count(*)::BIGINT AS n,
        |       CAST(sum(n_nationkey) AS BIGINT) AS key_checksum,
        |       min(n_name) AS min_name, max(n_name) AS max_name
        |FROM (SELECT 'csv' AS fmt, * FROM nation
        |      UNION ALL SELECT 'json' AS fmt, * FROM nation)
        |GROUP BY fmt ORDER BY fmt""",
    ) { (spark, dir) =>
      import spark.implicits._
      val nation = Tables(spark, dir).nation
      val tmp = java.nio.file.Files.createTempDirectory("graft_s4").toString
      nation.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
      nation.write.mode("overwrite").json(s"$tmp/json")
      val schema = nation.schema
      val csv = spark.read.schema(schema).option("header", "true").csv(s"$tmp/csv")
        .withColumn("fmt", lit("csv"))
      val json = spark.read.schema(schema).json(s"$tmp/json")
        .withColumn("fmt", lit("json"))
      csv.unionByName(json)
        .groupBy($"fmt")
        .agg(count(lit(1)).as("n"),
          sum($"n_nationkey").cast("long").as("key_checksum"),
          min($"n_name").as("min_name"), max($"n_name").as("max_name"))
        .orderBy($"fmt")
    },

    // ---- q78: S-surface ORC round trip, same differential shape as q66:
    // supplier goes out as ORC (with a schema-evolution twist — the
    // read-back projects a column subset, exercising ORC column pruning),
    // comes back, and aggregates; the oracle computes the identical
    // aggregate from parquet, so any round-trip corruption breaks the
    // hash. ---------------------------------------------------------------
    QueryDef(
      "q78_orc_roundtrip",
      """SELECT count(*)::BIGINT AS n,
        |       CAST(sum(s_suppkey) AS BIGINT) AS key_checksum,
        |       CAST(CAST(round(sum(s_acctbal), 2) AS DECIMAL(18,2)) AS DOUBLE) AS bal_checksum,
        |       min(s_name) AS min_name, max(s_name) AS max_name
        |FROM supplier""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val supplier = Tables(spark, dir).supplier
      val tmp = java.nio.file.Files.createTempDirectory("graft_orc").toString
      supplier.write.mode("overwrite").orc(tmp)
      spark.read.orc(tmp)
        .select($"s_suppkey", $"s_acctbal", $"s_name")
        .agg(count(lit(1)).as("n"),
          sum($"s_suppkey").cast("long").as("key_checksum"),
          dec(sum($"s_acctbal"), 2).as("bal_checksum"),
          min($"s_name").as("min_name"), max($"s_name").as("max_name"))
    },

    // ---- q80: Bloom-filter semi-join prefilter (Sketches scaladoc) —
    // the exact member-key count stays differential, and the sketch earns
    // two flags per the q65 pattern: every true member found (Bloom's
    // hard no-false-negative guarantee) and the measured false-positive
    // rate on 20k certainly-absent keys within 3x the declared fpp.
    // Deterministic: the bit array merges by OR (layout-independent) and
    // both probe sets are fixed. -----------------------------------------
    QueryDef(
      "q80_bloom_prefilter",
      """SELECT count(DISTINCT o_custkey)::BIGINT AS n_member_keys,
        |       1 AS no_false_negatives, 1 AS fpr_within_envelope
        |FROM orders""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val orders = Tables(spark, dir).orders
      val members = orders.select($"o_custkey").distinct().cache()
      val n = members.count()
      val bf = graft.operators.Sketches.bloom(orders, $"o_custkey", n, 0.01)
      val missed = graft.operators.Sketches
        .mightContain(members, "o_custkey", bf)
        .filter(!$"might_contain").count()
      // custkeys are positive, so the negative range is certainly absent
      val absent = spark.range(-20000L, 0L).toDF("k")
      val fp = graft.operators.Sketches.mightContain(absent, "k", bf)
        .filter($"might_contain").count()
      Seq((n,
        if (missed == 0) 1 else 0,
        if (fp.toDouble / 20000 <= 0.03) 1 else 0))
        .toDF("n_member_keys", "no_false_negatives", "fpr_within_envelope")
    },

    // ---- q81: approximate quantiles — completes the sketch battery
    // (HLL q65, CMS q79, Bloom q80). Exact quantiles stay differential
    // (integer-valued column: quantile_cont interpolation is exact in
    // double on both engines — the q54 contract); percentile_approx's
    // KLL-style sketch earns a rank-error envelope flag: each approx
    // value must land between the exact quantiles at p ± 0.02.
    // Deterministic per dataset (Greenwald-Khanna-family merges), so the
    // flag is stable once it clears. -------------------------------------
    QueryDef(
      "q81_approx_quantiles",
      """SELECT quantile_cont(l_quantity, 0.25) AS p25,
        |       quantile_cont(l_quantity, 0.50) AS p50,
        |       quantile_cont(l_quantity, 0.75) AS p75,
        |       quantile_cont(l_quantity, 0.95) AS p95,
        |       1 AS approx_within_envelope
        |FROM lineitem""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val q = $"l_quantity".cast("double")
      val ps = Seq(0.25, 0.50, 0.75, 0.95)
      val lo = ps.map(p => math.max(0.0, p - 0.02))
      val hi = ps.map(p => math.min(1.0, p + 0.02))
      val row = Tables(spark, dir).lineitem.agg(
        percentile(q, typedLit(ps)).as("exact"),
        percentile(q, typedLit(lo)).as("lo"),
        percentile(q, typedLit(hi)).as("hi"),
        percentile_approx(q, typedLit(ps), lit(10000)).as("approx"))
        .as[(Seq[Double], Seq[Double], Seq[Double], Seq[Double])].head()
      val (exact, loV, hiV, approx) = row
      val ok = approx.indices.forall(i => approx(i) >= loV(i) && approx(i) <= hiV(i))
      Seq((exact(0), exact(1), exact(2), exact(3), if (ok) 1 else 0))
        .toDF("p25", "p50", "p75", "p95", "approx_within_envelope")
    },

    // ---- q86: Z-order layout clustering (ZOrder scaladoc) — Morton
    // interleave of (custkey, order day) into one sort key; per-z-bucket
    // min/max of BOTH dims are hash-gated, pinning the bit math and the
    // multi-column boundedness that file skipping relies on. The bit
    // spread is identical integer arithmetic in both engines. ------------
    QueryDef(
      "q86_zorder",
      """WITH b AS (
        |  SELECT min(o_custkey) AS c0, max(o_custkey) AS c1,
        |         min(date_diff('day', TIMESTAMP '1970-01-01', o_orderdate)) AS d0,
        |         max(date_diff('day', TIMESTAMP '1970-01-01', o_orderdate)) AS d1
        |  FROM orders
        |), n AS (
        |  SELECT o_custkey, date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS day,
        |         ((o_custkey - c0) * 65535) // (c1 - c0) AS xn,
        |         ((date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) - d0) * 65535) // (d1 - d0) AS yn
        |  FROM orders, b
        |), s1 AS (
        |  SELECT *, (xn | (xn << 8)) & 16711935 AS xa, (yn | (yn << 8)) & 16711935 AS ya FROM n
        |), s2 AS (
        |  SELECT *, (xa | (xa << 4)) & 252645135 AS xb, (ya | (ya << 4)) & 252645135 AS yb FROM s1
        |), s3 AS (
        |  SELECT *, (xb | (xb << 2)) & 858993459 AS xc, (yb | (yb << 2)) & 858993459 AS yc FROM s2
        |), s4 AS (
        |  SELECT *, (xc | (xc << 1)) & 1431655765 AS xs, (yc | (yc << 1)) & 1431655765 AS ys FROM s3
        |)
        |SELECT ((xs | (ys << 1)) >> 26)::INT AS bucket, count(*)::BIGINT AS n,
        |       min(o_custkey)::BIGINT AS c_min, max(o_custkey)::BIGINT AS c_max,
        |       min(day)::BIGINT AS d_min, max(day)::BIGINT AS d_max
        |FROM s4 GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      val o = Tables(spark, dir).orders
        .withColumn("day", expr("datediff(o_orderdate, date'1970-01-01')").cast("long"))
      graft.operators.ZOrder.withZKey(o, $"o_custkey", $"day")
        .groupBy(shiftright($"__z", 26).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min($"o_custkey").cast("long").as("c_min"),
          max($"o_custkey").cast("long").as("c_max"),
          min($"day").cast("long").as("d_min"),
          max($"day").cast("long").as("d_max"))
        .orderBy($"bucket")
    },

    // ---- q87: PageRank over the customer<->supplier trade graph
    // (PageRank scaladoc) — the iterative-graph operator family's
    // authority score. Bidirectional bipartite edges (supplier nodes
    // offset) so no node dangles; 10 fixed rounds, alpha 0.85; oracle is
    // DuckDB's recursive CTE of the identical recurrence. Top-20 by
    // rounded rank, ties by node id. -------------------------------------
    QueryDef(
      "q87_pagerank",
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |), e(src, dst) AS (
        |  SELECT c, s + 100000 FROM pairs UNION ALL SELECT s + 100000, c FROM pairs
        |), deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS v FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |pr(it, v, r) AS (
        |  SELECT 0, v, 1.0 / n FROM nodes, nn
        |  UNION ALL
        |  SELECT it + 1, e.dst,
        |         0.15 / (SELECT n FROM nn) + 0.85 * sum(pr.r / deg.d)
        |  FROM pr JOIN e ON e.src = pr.v JOIN deg ON deg.src = e.src
        |  WHERE it < 10
        |  GROUP BY it + 1, e.dst
        |)
        |SELECT v,
        |       CAST(CAST(round(r, 4) AS DECIMAL(18,4)) AS DOUBLE) AS r
        |FROM pr WHERE it = 10
        |ORDER BY round(r, 4) DESC, v LIMIT 20""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      val pairs = t.orders.join(t.lineitem, $"l_orderkey" === $"o_orderkey")
        .select($"o_custkey".as("c"), $"l_suppkey".as("s")).distinct()
      val edges = pairs.select($"c".as("src"), ($"s" + 100000L).as("dst"))
        .union(pairs.select(($"s" + 100000L).as("src"), $"c".as("dst")))
      graft.operators.PageRank.ranks(edges, iterations = 10)
        .select($"v", dec($"r", 4).as("r"))
        .orderBy($"r".desc, $"v")
        .limit(20)
    },

    // ---- q108: record linkage (RecordLinkage scaladoc) — entity
    // resolution on tabular records: nationkey blocking bounds the pair
    // space at Σ|block|², Levenshtein scoring runs only within blocks,
    // and match pairs carry an id checksum so the exact match SET is
    // gated, not just its size. ------------------------------------------
    QueryDef(
      "q108_record_linkage",
      """SELECT a.c_nationkey AS nationkey,
        |       count(*)::BIGINT AS n_pairs,
        |       count(*) FILTER (WHERE levenshtein(a.c_name, b.c_name) <= 2)::BIGINT
        |         AS n_matches,
        |       CAST(sum(a.c_custkey + b.c_custkey)
        |              FILTER (WHERE levenshtein(a.c_name, b.c_name) <= 2) AS BIGINT)
        |         AS match_checksum
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      val cust = Tables(spark, dir).customer
        .select($"c_custkey", $"c_nationkey", $"c_name")
      // the banded threshold form computes O(k·n) per pair and returns -1
      // above the bound — an order of magnitude cheaper than the full DP
      // across 4.5M in-block pairs at sf0.1, same match set
      // cap pinned OFF: the DuckDB oracle spells within-block ALL-pairs,
      // so the gate must run the exact uncapped form at every SF (at sf1
      // a 6000-row nation block would otherwise cross the default cap
      // and diverge by design). Cap enforcement is spec-tested; callers
      // at scale get DefaultBlockCap unless they opt out like this.
      val pairs = graft.operators.RecordLinkage
        .blockedPairs(cust, "c_custkey", Seq("c_nationkey"), blockCap = Int.MaxValue)
        .withColumn("lev", levenshtein($"a_c_name", $"b_c_name", 2))
      pairs.groupBy($"c_nationkey".as("nationkey"))
        .agg(count(lit(1)).as("n_pairs"),
          count(when($"lev" =!= -1, 1)).as("n_matches"),
          sum(when($"lev" =!= -1, $"a_c_custkey" + $"b_c_custkey"))
            .cast("long").as("match_checksum"))
        .orderBy($"nationkey")
    },

    // ---- q112: the CAPPED blocking semantics, driver-gated — the
    // hot-block policy q108 opts out of (its oracle needs the exact
    // all-pairs form) spelled so DuckDB can express it: blocks over the
    // cap emit min-id representative-star pairs, blocks under it emit
    // all-pairs. Cap 60 splits the sf0.01 nation blocks 13 small / 12
    // hot, so BOTH routes are live in the gate; the oracle encodes the
    // identical fixed cap, so the comparison holds at any SF. ----------
    QueryDef(
      "q112_capped_linkage",
      """WITH c AS (SELECT c_custkey, c_nationkey FROM customer),
        |sz AS (SELECT c_nationkey, count(*) AS n FROM c GROUP BY 1),
        |small AS (
        |  SELECT a.c_nationkey, a.c_custkey AS a_id, b.c_custkey AS b_id
        |  FROM c a JOIN c b USING (c_nationkey) JOIN sz USING (c_nationkey)
        |  WHERE sz.n <= 60 AND a.c_custkey < b.c_custkey
        |), rep AS (
        |  SELECT c.c_nationkey, min(c.c_custkey) AS r
        |  FROM c JOIN sz USING (c_nationkey) WHERE sz.n > 60 GROUP BY 1
        |), star AS (
        |  SELECT c.c_nationkey, rep.r AS a_id, c.c_custkey AS b_id
        |  FROM c JOIN rep USING (c_nationkey) WHERE c.c_custkey <> rep.r
        |), p AS (SELECT * FROM small UNION ALL SELECT * FROM star)
        |SELECT c_nationkey::INT AS nationkey, count(*)::BIGINT AS n_pairs,
        |       CAST(sum(a_id * 3 + b_id) AS BIGINT) AS pair_checksum
        |FROM p GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      val cust = Tables(spark, dir).customer.select($"c_custkey", $"c_nationkey")
      graft.operators.RecordLinkage
        .blockedPairs(cust, "c_custkey", Seq("c_nationkey"), blockCap = 60)
        .groupBy($"c_nationkey".cast("int").as("nationkey"))
        .agg(count(lit(1)).as("n_pairs"),
          sum($"a_c_custkey" * 3 + $"b_c_custkey").cast("long").as("pair_checksum"))
        .orderBy($"nationkey")
    },

    // ---- q114: the FINER-KEY re-blocking route (RecordLinkage scaladoc)
    // — the compound-key mitigation q112's star route is the fallback
    // for: hot coarse blocks re-block on (nationkey, mktsegment); a
    // sub-block under the cap emits exact all-pairs, a STILL-hot
    // sub-block falls through to representative-star — the cap as an
    // invariant, not a first-attempt heuristic. Cap 15 at sf0.01 keeps a
    // few coarse blocks small, re-blocks the rest, and leaves both fine
    // routes live (~60-customer nations split ~12 per segment, straddling
    // 15); the oracle encodes the identical fixed cap, so the comparison
    // holds at any SF. ---------------------------------------------------
    QueryDef(
      "q114_finer_key_linkage",
      """WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment FROM customer),
        |sz AS (SELECT c_nationkey, count(*) AS n FROM c GROUP BY 1),
        |small AS (
        |  SELECT a.c_nationkey, a.c_custkey AS a_id, b.c_custkey AS b_id
        |  FROM c a JOIN c b USING (c_nationkey) JOIN sz USING (c_nationkey)
        |  WHERE sz.n <= 15 AND a.c_custkey < b.c_custkey
        |), hot AS (
        |  SELECT c.* FROM c JOIN sz USING (c_nationkey) WHERE sz.n > 15
        |), fsz AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS n
        |  FROM hot GROUP BY 1, 2
        |), fine AS (
        |  SELECT a.c_nationkey, a.c_custkey AS a_id, b.c_custkey AS b_id
        |  FROM hot a JOIN hot b USING (c_nationkey, c_mktsegment)
        |  JOIN fsz USING (c_nationkey, c_mktsegment)
        |  WHERE fsz.n <= 15 AND a.c_custkey < b.c_custkey
        |), frep AS (
        |  SELECT c_nationkey, c_mktsegment, min(c_custkey) AS r
        |  FROM hot JOIN fsz USING (c_nationkey, c_mktsegment)
        |  WHERE fsz.n > 15 GROUP BY 1, 2
        |), fstar AS (
        |  SELECT h.c_nationkey, frep.r AS a_id, h.c_custkey AS b_id
        |  FROM hot h JOIN frep USING (c_nationkey, c_mktsegment)
        |  WHERE h.c_custkey <> frep.r
        |), p AS (SELECT * FROM small UNION ALL SELECT * FROM fine
        |         UNION ALL SELECT * FROM fstar)
        |SELECT c_nationkey::INT AS nationkey, count(*)::BIGINT AS n_pairs,
        |       CAST(sum(a_id * 3 + b_id) AS BIGINT) AS pair_checksum
        |FROM p GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      val cust = Tables(spark, dir).customer
        .select($"c_custkey", $"c_nationkey", $"c_mktsegment")
      graft.operators.RecordLinkage
        .blockedPairs(cust, "c_custkey", Seq("c_nationkey"), blockCap = 15,
          finerKeyCols = Seq("c_mktsegment"))
        .groupBy($"c_nationkey".cast("int").as("nationkey"))
        .agg(count(lit(1)).as("n_pairs"),
          sum($"a_c_custkey" * 3 + $"b_c_custkey").cast("long").as("pair_checksum"))
        .orderBy($"nationkey")
    },

    // ---- q149: co-located fact⋈fact via bucketed managed tables
    // (BucketedTables scaladoc) — one write-time shuffle buys a
    // join with NO Exchange on either side (`Bucketed: true` scans),
    // the layout every repeated 100 TB fact join should sit on. The
    // result must equal the plain-parquet join byte-for-byte (same
    // rollup as q08's shape, distinct aggregate mix), and the spec
    // pins the exchange-free plan property. ---------------------------
    QueryDef(
      "q149_bucketed_join",
      """SELECT o_orderstatus, count(*)::BIGINT AS n_lines,
        |       count(DISTINCT o_orderkey)::BIGINT AS n_orders,
        |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    ) { (spark, dir) =>
      import spark.implicits._
      import graft.sources.BucketedTables
      val t = Tables(spark, dir)
      val bo = BucketedTables.ensureBucketed(
        t.orders.select($"o_orderkey", $"o_orderstatus"),
        BucketedTables.tableName("graft_bkt_orders", dir),
        buckets = 16, key = "o_orderkey", sortCols = Seq("o_orderkey"))
      val bl = BucketedTables.ensureBucketed(
        t.lineitem.select($"l_orderkey", $"l_quantity"),
        BucketedTables.tableName("graft_bkt_lineitem", dir),
        buckets = 16, key = "l_orderkey", sortCols = Seq("l_orderkey"))
      // merge hint: at small SF Catalyst would broadcast (bypassing the
      // bucket layout); the exchange-free bucketed SMJ is the plan on
      // display and the one a 100 TB fact-fact join takes unhinted
      bo.hint("merge").join(bl, $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_lines"),
          countDistinct($"o_orderkey").as("n_orders"),
          sum($"l_quantity").cast("long").as("sum_qty"))
        .orderBy($"o_orderstatus")
    },

    // ---- q151: bucket-pruned point lookup — the read-side payoff of
    // q149's layout: a literal IN-filter on the bucket key prunes the
    // scan to only the buckets those keys hash into
    // (SelectedBucketsCount in the plan, spec-pinned), so a key probe
    // against a 100 TB fact table touches 3/16ths of the files instead
    // of all of them, with NO index structure beyond the layout. ------
    QueryDef(
      "q151_bucket_pruning",
      """SELECT o.o_orderkey AS orderkey, o.o_orderstatus AS status,
        |       count(*)::BIGINT AS n_lines,
        |       CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey IN (1, 7, 33)
        |GROUP BY 1, 2 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      import graft.sources.BucketedTables
      val t = Tables(spark, dir)
      val bo = BucketedTables.ensureBucketed(
        t.orders.select($"o_orderkey", $"o_orderstatus"),
        BucketedTables.tableName("graft_bkt_orders", dir),
        buckets = 16, key = "o_orderkey", sortCols = Seq("o_orderkey"))
      val bl = BucketedTables.ensureBucketed(
        t.lineitem.select($"l_orderkey", $"l_quantity"),
        BucketedTables.tableName("graft_bkt_lineitem", dir),
        buckets = 16, key = "l_orderkey", sortCols = Seq("l_orderkey"))
      bo.filter($"o_orderkey".isin(1L, 7L, 33L))
        .hint("merge").join(bl, $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderkey".as("orderkey"), $"o_orderstatus".as("status"))
        .agg(count(lit(1)).as("n_lines"),
          sum($"l_quantity").cast("long").as("sum_qty"))
        .orderBy($"orderkey")
    },

    // ---- q153: dynamic partition pruning over the date-partitioned
    // sink — S6's runtime payoff, now oracle-gated (it was only
    // spec'd): the fact side is lineitem written partitionBy(ship
    // month), the dim side is a RUNTIME-derived month set (top-3 months
    // by urgent-order count — not statically foldable, so Catalyst
    // must insert a dynamicpruning subquery on the fact's partition
    // column rather than a constant partition filter). At 100 TB this
    // is the difference between scanning 3 months and scanning the
    // whole fact table when the qualifying partitions are only known
    // at run time. Values are partitioning-transparent, so the DuckDB
    // oracle runs on the raw table; the dynamicpruning plan shape is
    // pinned in PlanGuardSpec. ---------------------------------------
    QueryDef(
      "q153_dynamic_partition_pruning",
      """WITH top3 AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS ship_month,
        |         count(*) AS n_urgent
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |  GROUP BY 1 ORDER BY n_urgent DESC, ship_month LIMIT 3
        |)
        |SELECT t.ship_month, CAST(t.n_urgent AS BIGINT) AS n_urgent,
        |       count(*)::BIGINT AS n_lines,
        |       CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem l
        |JOIN top3 t ON strftime(l.l_shipdate, '%Y-%m') = t.ship_month
        |GROUP BY 1, 2 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      val fact = spark.read.parquet(DppSink.ensure(spark, dir))
      val dim = Tables(spark, dir).orders
        .filter($"o_orderpriority" === "1-URGENT")
        .groupBy(date_format($"o_orderdate", "yyyy-MM").as("ship_month"))
        .agg(count(lit(1)).as("n_urgent"))
        .orderBy($"n_urgent".desc, $"ship_month")
        .limit(3)
      fact.join(dim, Seq("ship_month"))
        .groupBy($"ship_month", $"n_urgent")
        .agg(count(lit(1)).as("n_lines"),
          sum($"l_quantity").cast("long").as("sum_qty"))
        .orderBy($"ship_month")
    },
  )
}

/** Per-(dir, JVM) month-partitioned lineitem sink for q153 — built once
  * (a sink write is an ingest-time cost), then read back as a
  * partitioned scan whose `ship_month` dirs a DPP subquery can prune.
  */
private[graft] object DppSink {
  private val byDir = scala.collection.concurrent.TrieMap.empty[String, String]
  def ensure(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    synchronized {
      byDir.getOrElseUpdate(dir, {
        import org.apache.spark.sql.functions._
        val path = s"${graft.io.LocalDirs.pidScopedScratch("graft_dppsink", dir)}/lineitem_by_month"
        Tables(spark, dir).lineitem
          .select(col("l_orderkey"), col("l_quantity"),
            date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
          .write.mode("overwrite").partitionBy("ship_month").parquet(path)
        path
      })
    }
}
