package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Parity._
import graft.operators.AsOfJoin

/** Relational query surface: the reference's dashboard/history SQL shapes
  * (SURVEY.md §2.5 R1-R7, /root/reference/main_service/src/main_service/
  * history.py:156-394 and endpoints/usage.py) re-expressed over the driver's
  * star schema, plus the TPC-H-ish scan/join/agg/window coverage the rebuild
  * needs (SURVEY.md §7 Phase 2). Every query is declarative DataFrame API —
  * Catalyst handles pushdown/pruning/join selection; broadcast hints only
  * where a dimension is provably small.
  */
object Relational {

  // TPC-H Q1 shape: the flagship scan+aggregate (SURVEY.md §7 Phase 0).
  val q01 = Q(
    "q01_pricing_summary",
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${dsumSql("l_quantity", 2)} AS sum_qty,
        ${dsumSql("l_extendedprice", 2)} AS sum_base_price,
        ${dsumSql("(l_extendedprice * (1 - l_discount))", 4)} AS sum_disc_price,
        ${dsumSql("((l_extendedprice * (1 - l_discount)) * (1 + l_tax))", 6)} AS sum_charge,
        ${davgSql("l_quantity", 2)} AS avg_qty,
        ${davgSql("l_extendedprice", 2)} AS avg_price,
        ${davgSql("l_discount", 2)} AS avg_disc,
        COUNT(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")
  ) { (s, d) =>
    Tables
      .lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("sum_disc_price"),
        // scale 6: the product of three 2-dp factors is exactly 6-dp, so
        // the decimal cast is exact — a coarser scale would sit on half-way
        // boundaries where engines' double→decimal rounding can diverge.
        dsum(
          (col("l_extendedprice") * (lit(1) - col("l_discount"))) *
            (lit(1) + col("l_tax")),
          6
        ).as("sum_charge"),
        davg(col("l_quantity"), 2).as("avg_qty"),
        davg(col("l_extendedprice"), 2).as("avg_price"),
        davg(col("l_discount"), 2).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")
  }

  // R1 (history.py:156-178): paged job list = ORDER BY ... LIMIT/OFFSET.
  val q02 = Q(
    "q02_top_orders_page",
    Some("""
      SELECT o_orderkey, o_custkey,
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date, o_totalprice
      FROM orders
      ORDER BY o_date DESC, o_orderkey DESC
      LIMIT 20 OFFSET 20""")
  ) { (s, d) =>
    Tables
      .orders(s, d)
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("o_orderdate").cast("date").cast("string").as("o_date"),
        col("o_totalprice")
      )
      .orderBy(col("o_date").desc, col("o_orderkey").desc)
      .offset(20)
      .limit(20)
  }

  // TPC-H Q3 shape: 3-way join + grouped revenue + top-N.
  val q03 = Q(
    "q03_shipping_priority",
    Some(s"""
      SELECT l_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date,
        ${dsumSql("(l_extendedprice * (1 - l_discount))", 4)} AS revenue
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY l_orderkey, o_date
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10""")
  ) { (s, d) =>
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01"))
    val li = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1998-01-01"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      // no broadcast hint: customer grows with scale factor, so a forced
      // broadcast would bypass autoBroadcastJoinThreshold and collect a
      // scale-proportional table to the driver at 100 TB — let the
      // optimizer/AQE pick (it still broadcasts at small tiers)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").cast("string").as("o_date"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue")
      )
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  // TPC-H Q4 shape: order-priority checking — correlated EXISTS against
  // lineitem, counted per priority. The schema has no commit/receipt
  // dates, so "late" is l_shipdate more than 60 days past the order date.
  // Scale: the EXISTS is a LEFT SEMI join — one shuffle on the order key,
  // no row multiplication however many lineitems match, and the date
  // filter prunes the orders scan before the join.
  val q04 = Q(
    "q04_priority_checking",
    Some("""
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders o
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
        AND EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  ) { (s, d) =>
    val ord = Tables
      .orders(s, d)
      .filter(
        col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01")
      )
    // timestamp + interval (not date_add): keeps the addition in timestamp
    // space exactly as the oracle computes it
    ord
      .join(
        Tables.lineitem(s, d).select("l_orderkey", "l_shipdate"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi"
      )
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  // TPC-H Q5 shape: 6-way star join, grouped by nation.
  val q05 = Q(
    "q05_local_supplier_volume",
    Some(s"""
      SELECT n_name,
        ${dsumSql("(l_extendedprice * (1 - l_discount))", 4)} AS revenue,
        COUNT(*) AS n_items
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name""")
  ) { (s, d) =>
    val ord = Tables
      .orders(s, d)
      .filter(
        col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01")
      )
    Tables
      .lineitem(s, d)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(
        // supplier is scale-proportional (unlike nation/region below):
        // no forced broadcast — AQE picks broadcast at small tiers and
        // a shuffle join once the table outgrows the threshold
        Tables.supplier(s, d),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey")
      )
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"),
        count(lit(1)).as("n_items")
      )
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // TPC-H Q6 shape: pure filter + global aggregate (predicate pushdown).
  val q06 = Q(
    "q06_revenue_forecast",
    Some(s"""
      SELECT ${dsumSql("(l_extendedprice * l_discount)", 4)} AS revenue,
             COUNT(*) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount >= 0.03 AND l_discount <= 0.07
        AND l_quantity < 24""")
  ) { (s, d) =>
    Tables
      .lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24
      )
      .agg(
        dsum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
        count(lit(1)).as("n")
      )
  }

  // R2 (history.py:219-229): filtered counts, per group.
  val q07 = Q(
    "q07_event_type_stats",
    Some(s"""
      SELECT event_type, COUNT(*) AS n, ${dsumSql("value", 2)} AS total
      FROM events WHERE value > 100
      GROUP BY event_type ORDER BY event_type""")
  ) { (s, d) =>
    Tables
      .events(s, d)
      .filter(col("value") > 100)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("total"))
      .orderBy("event_type")
  }

  // R3 (history.py:232-246): per-key grouping with min/max attribution.
  val q08 = Q(
    "q08_user_groups",
    Some("""
      SELECT user_id, COUNT(*) AS n, MAX(value) AS max_value,
             MIN(event_id) AS first_event, MAX(event_id) AS last_event
      FROM events GROUP BY user_id ORDER BY user_id""")
  ) { (s, d) =>
    Tables
      .events(s, d)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n"),
        max("value").as("max_value"),
        min("event_id").as("first_event"),
        max("event_id").as("last_event")
      )
      .orderBy("user_id")
  }

  // R4 (history.py:249-273): JSON point extraction + flatten/group.
  val q09 = Q(
    "q09_json_props",
    Some(s"""
      SELECT TRY_CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k,
             COUNT(*) AS n, ${dsumSql("value", 2)} AS total
      FROM events GROUP BY k ORDER BY k NULLS LAST""")
  ) { (s, d) =>
    Tables
      .events(s, d)
      // TRY_CAST / nulls-last pinned on BOTH sides: Spark's cast returns
      // NULL on a non-integral string where DuckDB's plain CAST aborts
      // the whole oracle query, and the engines' default ASC null order
      // differs (Spark NULLS FIRST, DuckDB NULLS LAST) — a props row
      // without '$.k' would otherwise break the gate two ways
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("total"))
      .orderBy(col("k").asc_nulls_last)
  }

  // R5 (endpoints/usage.py:109,249,366): time-bucketed usage aggregation.
  val q10 = Q(
    "q10_usage_daily",
    Some(s"""
      SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day, event_type,
             COUNT(*) AS n, ${dsumSql("value", 2)} AS total
      FROM events GROUP BY day, event_type ORDER BY day, event_type""")
  ) { (s, d) =>
    Tables
      .events(s, d)
      .withColumn("day", date_trunc("day", col("ts")).cast("date").cast("string"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("total"))
      .orderBy("day", "event_type")
  }

  // R5 + subtotals: ROLLUP with 'ALL' sentinels (source cols are non-null).
  val q11 = Q(
    "q11_usage_rollup",
    Some(s"""
      WITH e AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, value FROM events),
      g AS (SELECT day, event_type, COUNT(*) AS n,
              ${dsumSql("value", 2)} AS total
            FROM e GROUP BY ROLLUP (day, event_type))
      SELECT COALESCE(CAST(day AS VARCHAR), 'ALL') AS day,
             COALESCE(event_type, 'ALL') AS event_type, n, total
      FROM g ORDER BY day, event_type""")
  ) { (s, d) =>
    Tables
      .events(s, d)
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
      .rollup("day", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("total"))
      .select(
        coalesce(col("day").cast("string"), lit("ALL")).as("day"),
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("n"),
        col("total")
      )
      .orderBy("day", "event_type")
  }

  // R6 (history.py:380-394): first matching record scan.
  val q12 = Q(
    "q12_first_error",
    Some("""
      WITH e AS (SELECT event_id, user_id,
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s
                 FROM events WHERE event_type = 'error')
      SELECT event_id, user_id, ts_s FROM e
      ORDER BY ts_s, event_id LIMIT 1""")
  ) { (s, d) =>
    Tables
      .events(s, d)
      .filter(col("event_type") === "error")
      .select(
        col("event_id"),
        col("user_id"),
        unix_timestamp(col("ts")).as("ts_s")
      )
      .orderBy("ts_s", "event_id")
      .limit(1)
  }

  // R7 (history.py:341-350): COALESCE + top-N recent.
  val q13 = Q(
    "q13_top_balances",
    Some("""
      SELECT e.event_id, COALESCE(c.c_mktsegment, 'NONE') AS segment,
             COALESCE(c.c_acctbal, 0.0) AS bal
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      ORDER BY bal DESC, e.event_id LIMIT 25""")
  ) { (s, d) =>
    val e = Tables.events(s, d)
    val c = Tables.customer(s, d)
    // customer is scale-proportional — no forced broadcast (see q03)
    e.join(c, e("user_id") === c("c_custkey"), "left")
      .select(
        col("event_id"),
        coalesce(col("c_mktsegment"), lit("NONE")).as("segment"),
        coalesce(col("c_acctbal"), lit(0.0)).as("bal")
      )
      .orderBy(col("bal").desc, col("event_id"))
      .limit(25)
  }

  // Window: top-k per group (rank with deterministic tiebreak).
  val q14 = Q(
    "q14_window_topk",
    Some("""
      WITH r AS (SELECT user_id, event_id, value,
                   CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY value DESC, event_id) AS INTEGER) AS rnk
                 FROM events)
      SELECT user_id, event_id, value, rnk FROM r WHERE rnk <= 3
      ORDER BY user_id, rnk""")
  ) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    Tables
      .events(s, d)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("user_id", "event_id", "value", "rnk")
      .orderBy("user_id", "rnk")
  }

  // Window: running (prefix) sum — exact decimal accumulation.
  val q15 = Q(
    "q15_running_sum",
    Some("""
      SELECT user_id, event_id,
        CAST(SUM(CAST(value AS DECIMAL(18,2)))
             OVER (PARTITION BY user_id ORDER BY event_id) AS DOUBLE) AS running
      FROM events ORDER BY user_id, event_id""")
  ) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables
      .events(s, d)
      .select(
        col("user_id"),
        col("event_id"),
        sum(dec(col("value"), 2)).over(w).cast("double").as("running")
      )
      .orderBy("user_id", "event_id")
  }

  // Window: lag + inter-event gap statistics.
  val q16 = Q(
    "q16_session_gaps",
    Some("""
      WITH g AS (
        SELECT user_id,
          CAST(epoch(date_trunc('second', ts)) AS BIGINT)
            - CAST(epoch(date_trunc('second',
                lag(ts) OVER (PARTITION BY user_id ORDER BY event_id))) AS BIGINT) AS gap_s
        FROM events)
      SELECT user_id, COUNT(gap_s) AS n_gaps,
             CAST(SUM(gap_s) AS BIGINT) AS total_gap_s,
             CAST(CAST(SUM(gap_s) AS BIGINT) AS DOUBLE) / COUNT(gap_s) AS avg_gap_s
      FROM g GROUP BY user_id ORDER BY user_id""")
  ) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables
      .events(s, d)
      .select(
        col("user_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)))
          .as("gap_s")
      )
      .groupBy("user_id")
      .agg(
        count(col("gap_s")).as("n_gaps"),
        sum(col("gap_s")).as("total_gap_s"),
        (sum(col("gap_s")).cast("double") / count(col("gap_s"))).as("avg_gap_s")
      )
      .orderBy("user_id")
  }

  // Join + group: order stats per nation (broadcast dim).
  val q17 = Q(
    "q17_customer_order_stats",
    Some(s"""
      SELECT n_name, COUNT(*) AS n_orders,
        ${dsumSql("o_totalprice", 2)} AS total,
        ${davgSql("o_totalprice", 2)} AS avg_price
      FROM orders, customer, nation
      WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""")
  ) { (s, d) =>
    Tables
      .orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice"), 2).as("total"),
        davg(col("o_totalprice"), 2).as("avg_price")
      )
      .orderBy("n_name")
  }

  // Semi join: customers with an in-progress order, per nation.
  val q18 = Q(
    "q18_active_customers",
    Some("""
      SELECT n_name, COUNT(*) AS n_custs
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      GROUP BY n_name ORDER BY n_name""")
  ) { (s, d) =>
    val ord = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
    Tables
      .customer(s, d)
      .join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_custs"))
      .orderBy("n_name")
  }

  // Anti join: customers with no orders at all, per nation.
  val q19 = Q(
    "q19_inactive_customers",
    Some("""
      SELECT n_name, COUNT(*) AS n_custs
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderdate < TIMESTAMP '1996-01-01')
      GROUP BY n_name ORDER BY n_name""")
  ) { (s, d) =>
    Tables
      .customer(s, d)
      .join(
        Tables.orders(s, d).filter(col("o_orderdate") < lit("1996-01-01")),
        col("c_custkey") === col("o_custkey"),
        "left_anti"
      )
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_custs"))
      .orderBy("n_name")
  }

  // Set operations: nation-key membership of customers vs suppliers.
  val q20 = Q(
    "q20_nation_setops",
    Some("""
      WITH a AS (SELECT DISTINCT c_nationkey AS k FROM customer),
           b AS (SELECT DISTINCT s_nationkey AS k FROM supplier)
      SELECT 'both' AS tag, k FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
      UNION ALL
      SELECT 'cust_only' AS tag, k FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
      UNION ALL
      SELECT 'supp_only' AS tag, k FROM (SELECT k FROM b EXCEPT SELECT k FROM a)
      ORDER BY tag, k""")
  ) { (s, d) =>
    val a = Tables.customer(s, d).select(col("c_nationkey").as("k")).distinct()
    val b = Tables.supplier(s, d).select(col("s_nationkey").as("k")).distinct()
    a.intersect(b)
      .withColumn("tag", lit("both"))
      .unionByName(a.except(b).withColumn("tag", lit("cust_only")))
      .unionByName(b.except(a).withColumn("tag", lit("supp_only")))
      .select("tag", "k")
      .orderBy("tag", "k")
  }

  // CUBE over two dims with 'ALL' sentinels.
  val q21 = Q(
    "q21_returns_cube",
    Some(s"""
      WITH g AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                   ${dsumSql("l_quantity", 2)} AS qty
                 FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus))
      SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
             COALESCE(l_linestatus, 'ALL') AS l_linestatus, n, qty
      FROM g ORDER BY l_returnflag, l_linestatus""")
  ) { (s, d) =>
    Tables
      .lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("n"),
        col("qty")
      )
      .orderBy("l_returnflag", "l_linestatus")
  }

  // Exact interpolated percentiles per group.
  val q22 = Q(
    "q22_price_percentiles",
    Some("""
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.5) AS p50,
             quantile_cont(o_totalprice, 0.9) AS p90,
             COUNT(*) AS n
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  ) { (s, d) =>
    // Distributed exact interpolated percentile with BOUNDED state. The
    // percentile() UDAF buffers every group value in one aggregation
    // buffer (near-unique doubles -> the whole group on one reducer at
    // scale); a per-priority row_number window would be no better — 5
    // groups of corpus/5 rows, one reducer each (the shape
    // WindowBoundSpec bans). The in-group rank rides Ranks.groupedRank
    // instead: one range exchange on (priority, price), local
    // row_number per range slice, per-group prefix offsets broadcast
    // back — every task's work is corpus/numParts, whatever the group
    // sizes. Only the <=2 rank-selected rows per target quantile reach
    // the final agg. Interpolation is the form both engines share —
    // lo*(ceil(h)-h) + hi*(h-floor(h)) with h = (n-1)*p in doubles — so
    // the result stays hash-identical to DuckDB's quantile_cont.
    val o = Tables.orders(s, d).select(col("o_orderpriority"), col("o_totalprice"))
    // n (the output count) is COUNT(*) over ALL rows, but the quantile
    // machinery must see only NON-NULL values — both percentile() and
    // quantile_cont ignore NULLs, while ranking would count a NULL row
    // and shift every selection. `np` is the quantile population;
    // identical to n when the column is null-free (it is in this data).
    val counts = o
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), count(col("o_totalprice")).as("np"))
    // no unique tiebreaker: rank ASSIGNMENT among equal prices varies
    // with partition boundaries, but the VALUE at every rank — all the
    // interpolation reads — is deterministic (ties share the value)
    val ranked = graft.operators.Ranks
      .groupedRank(
        o.filter(col("o_totalprice").isNotNull),
        "o_orderpriority",
        s.sparkContext.defaultParallelism,
        col("o_totalprice")
      )
      .withColumn("rn", col("grank"))
      .join(broadcast(counts), "o_orderpriority")
    def h(p: Double): Column = (col("np").cast("double") - 1) * lit(p)
    def lo(p: Double): Column = min(when(col("rn") === floor(h(p)) + 1, col("o_totalprice")))
    def hi(p: Double): Column = min(when(col("rn") === ceil(h(p)) + 1, col("o_totalprice")))
    def needed(p: Double): Column =
      col("rn") === floor(h(p)) + 1 || col("rn") === ceil(h(p)) + 1
    def interp(loC: Column, hiC: Column, p: Double): Column =
      when(ceil(h(p)) === floor(h(p)), loC)
        .otherwise(loC * (ceil(h(p)) - h(p)) + hiC * (h(p) - floor(h(p))))
    val pcts = ranked
      .filter(needed(0.5) || needed(0.9))
      .groupBy(col("o_orderpriority"), col("np"))
      .agg(lo(0.5).as("lo50"), hi(0.5).as("hi50"), lo(0.9).as("lo90"), hi(0.9).as("hi90"))
      .select(
        col("o_orderpriority"),
        interp(col("lo50"), col("hi50"), 0.5).as("p50"),
        interp(col("lo90"), col("hi90"), 0.9).as("p90")
      )
    // left join from counts: a group whose every value is NULL has no
    // ranked rows, but still emits (n, NULL percentiles) — the UDAF /
    // quantile_cont row shape
    counts
      .join(pcts, Seq("o_orderpriority"), "left")
      .select(col("o_orderpriority"), col("p50"), col("p90"), col("n"))
      .orderBy("o_orderpriority")
  }

  // As-of join: latest order at or before each event (see AsOfJoin).
  val q23 = Q(
    "q23_asof_last_order",
    Some("""
      WITH m AS (
        SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY e.event_id
            ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) AS rn
        FROM events e LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
      SELECT event_id, user_id, o_orderkey, o_totalprice
      FROM m WHERE rn = 1 ORDER BY event_id""")
  ) { (s, d) =>
    val e = Tables.events(s, d)
    val o = Tables.orders(s, d)
    AsOfJoin
      .latestAtOrBefore(
        left = e.select(col("event_id"), col("user_id"), col("ts")),
        right = o.select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice")),
        leftKey = "user_id",
        rightKey = "o_custkey",
        leftTime = "ts",
        rightTime = "o_orderdate",
        rightTieBreak = "o_orderkey",
        payload = Seq("o_orderkey", "o_totalprice")
      )
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")
      .orderBy("event_id")
  }

  // Scalar function coverage: date/string/math projection.
  val q24 = Q(
    "q24_scalar_funcs",
    Some("""
      SELECT o_orderkey,
        UPPER(o_orderpriority) AS pri_up,
        SUBSTR(o_orderpriority, 1, 1) AS pri_code,
        CAST(LENGTH(o_orderstatus) AS INTEGER) AS st_len,
        o_orderstatus || '-' || o_orderpriority AS tag,
        CAST(year(o_orderdate) AS INTEGER) AS yr,
        CAST(month(o_orderdate) AS INTEGER) AS mo,
        CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
        ABS(o_totalprice - 250000.0) AS dev,
        CASE WHEN o_totalprice > 250000.0 THEN 'big' ELSE 'small' END AS bucket
      FROM orders ORDER BY o_orderkey LIMIT 100""")
  ) { (s, d) =>
    Tables
      .orders(s, d)
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("pri_up"),
        substring(col("o_orderpriority"), 1, 1).as("pri_code"),
        length(col("o_orderstatus")).as("st_len"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        floor(col("o_totalprice")).as("price_floor"),
        abs(col("o_totalprice") - lit(250000.0)).as("dev"),
        when(col("o_totalprice") > 250000.0, "big").otherwise("small").as("bucket")
      )
      .orderBy("o_orderkey")
      .limit(100)
  }

  // Exact distinct counts per group.
  val q25 = Q(
    "q25_distinct_counts",
    Some("""
      SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT l_partkey) AS n_part, COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  ) { (s, d) =>
    Tables
      .lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n")
      )
      .orderBy("l_returnflag")
  }

  // Batch analog of the streaming hourly window (see graft.streaming).
  val q26 = Q(
    "q26_events_hourly",
    Some(s"""
      WITH e AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_s,
                        event_type, value FROM events)
      SELECT hour_s, event_type, COUNT(*) AS n, ${dsumSql("value", 2)} AS total
      FROM e GROUP BY hour_s, event_type ORDER BY hour_s, event_type""")
  ) { (s, d) =>
    Tables
      .events(s, d)
      .withColumn("hour_s", unix_timestamp(date_trunc("hour", col("ts"))))
      .groupBy("hour_s", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("total"))
      .orderBy("hour_s", "event_type")
  }

  // Dim join: revenue per brand. part is scale-proportional, so the
  // broadcast decision belongs to the optimizer (AQE broadcasts it at
  // small tiers, shuffles once it outgrows the threshold) — a forced
  // hint here would ship a SF-sized table to every executor at 100 TB.
  val q27 = Q(
    "q27_brand_revenue",
    Some(s"""
      SELECT p_brand,
        ${dsumSql("(l_extendedprice * (1 - l_discount))", 4)} AS revenue,
        COUNT(DISTINCT l_suppkey) AS n_supp, COUNT(*) AS n
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand""")
  ) { (s, d) =>
    Tables
      .lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"),
        countDistinct(col("l_suppkey")).as("n_supp"),
        count(lit(1)).as("n")
      )
      .orderBy("p_brand")
  }

  // Approx distinct (HLL). The raw HLL estimate has no cross-engine
  // parity (DuckDB's sketch differs), so the checkable output is the
  // exact count plus a bounded-error assertion on the engine's own
  // estimate: rsd=0.01 against a 5% acceptance bound means approx_ok can
  // only go false on a real HLL regression, which then fails CORRECTNESS.
  val q28 = Q(
    "q28_approx_users",
    Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
             TRUE AS approx_ok, COUNT(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type""")
  ) { (s, d) =>
    // two-level aggregation instead of countDistinct + HLL in one agg:
    // mixing distinct and non-distinct aggregates makes Catalyst Expand
    // the input 3x; pre-grouping on (event_type, user_id) keeps every
    // stage a plain partial-aggregated hash agg (measured 2.5s -> ~0.7s
    // at sf0.1, and the Expand would be far worse at 100 TB)
    Tables
      .events(s, d)
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("event_type")
      // count(user_id), not count(*): a NULL user_id group must not count
      // as a distinct user (COUNT(DISTINCT ...) ignores NULLs), while its
      // rows still count into n
      .agg(
        count(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        sum(col("cnt")).as("n")
      )
      .select(
        col("event_type"),
        col("exact_users"),
        // all-NULL user_id group: exact_users = 0 and the ratio is
        // NULL-by-zero-division, while the oracle hardcodes TRUE — an
        // estimate of nothing is vacuously within bound
        when(col("exact_users") === 0, lit(true))
          .otherwise(
            abs(col("approx_users") - col("exact_users")).cast("double") /
              col("exact_users") <= 0.05
          )
          .as("approx_ok"),
        col("n")
      )
      .orderBy("event_type")
  }

  // TPC-H Q4 shape: EXISTS with a correlated inequality.
  val q29 = Q(
    "q29_priority_exists",
    Some("""
      SELECT o_orderpriority, COUNT(*) AS n
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1997-10-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  ) { (s, d) =>
    val ord = Tables
      .orders(s, d)
      .filter(
        col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1997-10-01")
      )
    ord
      .join(
        Tables.lineitem(s, d),
        col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"),
        "left_semi"
      )
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  // TPC-H Q18 shape: HAVING over a grouped sum, then join + top-N.
  val q30 = Q(
    "q30_big_orders",
    Some(s"""
      WITH s AS (SELECT l_orderkey, ${dsumSql("l_quantity", 2)} AS qty
                 FROM lineitem GROUP BY l_orderkey
                 HAVING ${dsumSql("l_quantity", 2)} > 150)
      SELECT l_orderkey, qty, o_totalprice, o_custkey
      FROM s JOIN orders ON l_orderkey = o_orderkey
      ORDER BY qty DESC, l_orderkey LIMIT 20""")
  ) { (s, d) =>
    val sums = Tables
      .lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(dsum(col("l_quantity"), 2).as("qty"))
      .filter(col("qty") > 150)
    sums
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "qty", "o_totalprice", "o_custkey")
      .orderBy(col("qty").desc, col("l_orderkey"))
      .limit(20)
  }

  // TPC-H Q17 shape: correlated scalar aggregate (quantity below 20% of
  // the part's average).
  val q31 = Q(
    "q31_small_quantity_revenue",
    Some(s"""
      WITH a AS (SELECT l_partkey AS pk, ${davgSql("l_quantity", 2)} AS avg_qty
                 FROM lineitem GROUP BY pk)
      SELECT COUNT(*) AS n, ${dsumSql("l_extendedprice", 2)} AS total
      FROM lineitem JOIN a ON l_partkey = pk
      WHERE l_quantity < 0.2 * avg_qty""")
  ) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val avg = li
      .groupBy(col("l_partkey").as("pk"))
      .agg(davg(col("l_quantity"), 2).as("avg_qty"))
    li.join(avg, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice"), 2).as("total"))
  }

  // Nested aggregation: average of per-customer order totals, per nation.
  val q32 = Q(
    "q32_nested_agg",
    Some("""
      WITH cs AS (SELECT c_nationkey, c_custkey,
                    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
                  FROM orders JOIN customer ON o_custkey = c_custkey
                  GROUP BY c_nationkey, c_custkey)
      SELECT c_nationkey,
             CAST(SUM(CAST(tot AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_cust_total,
             COUNT(*) AS n_cust
      FROM cs GROUP BY c_nationkey ORDER BY c_nationkey""")
  ) { (s, d) =>
    Tables
      .orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey", "c_custkey")
      .agg(dsum(col("o_totalprice"), 2).as("tot"))
      .groupBy("c_nationkey")
      .agg(davg(col("tot"), 2).as("avg_cust_total"), count(lit(1)).as("n_cust"))
      .orderBy("c_nationkey")
  }

  // IN-subquery membership.
  val q33 = Q(
    "q33_in_subquery",
    Some("""
      SELECT s_suppkey, s_name FROM supplier
      WHERE s_nationkey IN (SELECT c_nationkey FROM customer WHERE c_acctbal > 4000)
      ORDER BY s_suppkey""")
  ) { (s, d) =>
    val nations = Tables
      .customer(s, d)
      .filter(col("c_acctbal") > 4000)
      .select(col("c_nationkey"))
      .distinct()
    Tables
      .supplier(s, d)
      .join(nations, col("s_nationkey") === col("c_nationkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")
  }

  // Heterogeneous UNION ALL rollup across two fact tables.
  val q34 = Q(
    "q34_union_all_counts",
    // || not CONCAT in the oracle: DuckDB's CONCAT SKIPS null arguments
    // (a NULL event_type would group under 'event:') while Spark's
    // concat propagates NULL — || propagates NULL in both engines, and
    // the nulls-last order pins the one remaining default divergence
    Some("""
      SELECT 'event:' || event_type AS k, COUNT(*) AS n FROM events GROUP BY k
      UNION ALL
      SELECT 'order:' || o_orderstatus AS k, COUNT(*) AS n FROM orders GROUP BY k
      ORDER BY k NULLS LAST""")
  ) { (s, d) =>
    val e = Tables
      .events(s, d)
      .groupBy(concat(lit("event:"), col("event_type")).as("k"))
      .agg(count(lit(1)).as("n"))
    val o = Tables
      .orders(s, d)
      .groupBy(concat(lit("order:"), col("o_orderstatus")).as("k"))
      .agg(count(lit(1)).as("n"))
    e.unionByName(o).orderBy(col("k").asc_nulls_last)
  }

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  // Pivot: one column per event type (oracle via CASE sums).
  val q35 = Q(
    "q35_pivot_events",
    Some {
      val cases = eventTypes
        .map(t => s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
        .mkString(",\n             ")
      s"""
      SELECT user_id,
             $cases
      FROM events GROUP BY user_id ORDER BY user_id"""
    }
  ) { (s, d) =>
    Tables
      .events(s, d)
      .groupBy("user_id")
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
      .na
      .fill(0, eventTypes)
      .orderBy("user_id")
  }

  // Batch sessionization: gap-based sessions via two stacked windows —
  // the SQL twin of streaming EventStream.sessionize.
  val q36 = Q(
    "q36_sessions",
    Some("""
      WITH g AS (
        SELECT user_id, event_id,
          CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
                 OR CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                    - CAST(epoch(date_trunc('second',
                        lag(ts) OVER (PARTITION BY user_id ORDER BY event_id))) AS BIGINT) > 1800
               THEN 1 ELSE 0 END AS new_s
        FROM events),
      s AS (SELECT user_id, event_id, ts_s,
              CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY event_id) AS INTEGER) AS session_no
            FROM g)
      SELECT user_id, session_no, COUNT(*) AS n_events,
             MAX(ts_s) - MIN(ts_s) AS duration_s
      FROM s GROUP BY user_id, session_no ORDER BY user_id, session_no""")
  ) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val tsS = unix_timestamp(col("ts"))
    val lagTsS = unix_timestamp(lag(col("ts"), 1).over(w))
    Tables
      .events(s, d)
      .select(
        col("user_id"),
        col("event_id"),
        tsS.as("ts_s"),
        when(lag(col("ts"), 1).over(w).isNull || (tsS - lagTsS) > 1800, 1)
          .otherwise(0)
          .as("new_s")
      )
      .withColumn("session_no", sum(col("new_s")).over(w).cast("int"))
      .groupBy("user_id", "session_no")
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("ts_s")) - min(col("ts_s"))).as("duration_s")
      )
      .orderBy("user_id", "session_no")
  }

  // ntile quartiles within groups.
  val q37 = Q(
    "q37_price_quartiles",
    Some("""
      WITH t AS (SELECT o_orderpriority, o_totalprice,
                   CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS quartile
                 FROM orders)
      SELECT o_orderpriority, quartile, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM t GROUP BY o_orderpriority, quartile
      ORDER BY o_orderpriority, quartile""")
  ) { (s, d) =>
    // ntile over a per-priority window = 5 partitions of corpus/5 rows,
    // one reducer each (the WindowBoundSpec-banned shape). The tile is a
    // CLOSED FORM of the in-group rank and group size — compute those
    // with the distributed grouped-rank kernel (range exchange + offset
    // broadcast, every task corpus/numParts) and project the tile.
    graft.operators.Ranks
      .groupedRank(
        Tables.orders(s, d).select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey")),
        "o_orderpriority",
        s.sparkContext.defaultParallelism,
        col("o_totalprice"),
        col("o_orderkey")
      )
      .withColumn("quartile", graft.operators.Ranks.ntileFromRank(col("grank"), col("gn"), 4))
      .groupBy("o_orderpriority", "quartile")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("total"))
      .orderBy("o_orderpriority", "quartile")
  }

  // Date arithmetic: day diffs, quarters, aligned day-of-week.
  val q38 = Q(
    "q38_date_arithmetic",
    Some("""
      SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
             CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
             COUNT(*) AS n,
             CAST(MAX(datediff('day', TIMESTAMP '1995-01-01', o_orderdate)) AS INTEGER) AS max_days_since,
             CAST(SUM(CASE WHEN dayofweek(o_orderdate) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sundays
      FROM orders GROUP BY yr, qtr ORDER BY yr, qtr""")
  ) { (s, d) =>
    Tables
      .orders(s, d)
      .groupBy(
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr")
      )
      .agg(
        count(lit(1)).as("n"),
        max(datediff(col("o_orderdate"), lit("1995-01-01"))).as("max_days_since"),
        // Spark dayofweek: 1=Sunday; DuckDB dayofweek: 0=Sunday — align.
        sum(when(dayofweek(col("o_orderdate")) === 1, 1).otherwise(0)).as("sundays")
      )
      .orderBy("yr", "qtr")
  }

  /** Range (interval) join: what does a user do in the 3 days after a
    * purchase? Anchors are purchase events; every other event of the same
    * user inside [purchase_date, purchase_date + 3) matches. Runs through
    * the granule-bucketed RangeJoin operator (equi-join on (key, day), no
    * inequality-join row explosion) and is hash-checked against DuckDB's
    * direct BETWEEN formulation of the same semantics. */
  val q39 = Q(
    "q39_range_interval_join",
    Some("""
      SELECT e.event_type, COUNT(*) AS n_pairs
      FROM events e JOIN events a
        ON a.user_id = e.user_id
       AND a.event_type = 'purchase'
       AND e.event_id <> a.event_id
       AND CAST(e.ts AS DATE) >= CAST(a.ts AS DATE)
       AND CAST(e.ts AS DATE) < CAST(a.ts AS DATE) + 3
      GROUP BY e.event_type ORDER BY e.event_type""")
  ) { (s, d) =>
    val ev = Tables
      .events(s, d)
      .select(
        col("user_id"),
        to_date(col("ts")).as("event_date"),
        col("event_id"),
        col("event_type")
      )
    val anchors = Tables
      .events(s, d)
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id").as("a_user"),
        to_date(col("ts")).as("w_start"),
        date_add(to_date(col("ts")), 3).as("w_end"),
        col("event_id").as("anchor_id")
      )
    graft.operators.RangeJoin
      .dateIntervalJoin(ev, anchors, "user_id", "a_user", "event_date", "w_start", "w_end")
      .filter(col("event_id") =!= col("anchor_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("event_type")
  }

  /** Forward as-of: for each error event, the user's next purchase at or
    * after it (the "what happened next" lookup) — AsOfJoin's forward
    * variant, same union+window plan shape as q23, mirrored time axis. */
  val q40 = Q(
    "q40_asof_next_purchase",
    Some("""
      WITH m AS (
        SELECT e.event_id, e.user_id, p.event_id AS purchase_id, p.value AS purchase_value,
          ROW_NUMBER() OVER (PARTITION BY e.event_id
            ORDER BY p.ts ASC NULLS LAST, p.event_id DESC NULLS LAST) AS rn
        FROM (SELECT * FROM events WHERE event_type = 'error') e
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON e.user_id = p.user_id AND p.ts >= e.ts)
      SELECT event_id, user_id, purchase_id, purchase_value
      FROM m WHERE rn = 1 ORDER BY event_id""")
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    AsOfJoin
      .earliestAtOrAfter(
        left = ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts")),
        right = ev.filter(col("event_type") === "purchase")
          .select(
            col("user_id").as("p_user"),
            col("ts").as("p_ts"),
            col("event_id").as("purchase_id"),
            col("value").as("purchase_value")
          ),
        leftKey = "user_id",
        rightKey = "p_user",
        leftTime = "ts",
        rightTime = "p_ts",
        rightTieBreak = "purchase_id",
        payload = Seq("purchase_id", "purchase_value")
      )
      .select("event_id", "user_id", "purchase_id", "purchase_value")
      .orderBy("event_id")
  }

  /** Explicit GROUPING SETS (beyond q11's rollup / q21's cube): the four
    * named aggregation levels in one pass. Subtotal rows are tagged via
    * COALESCE placeholders rather than grouping_id() — the columns are
    * never NULL in data, and bit order of grouping_id differs between
    * engines while the placeholder text cannot. */
  val q41 = Q(
    "q41_grouping_sets",
    Some("""
      SELECT COALESCE(lang, '<all>') AS lang_g,
             COALESCE(source, '<all>') AS source_g,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS chars_sum
      FROM documents
      GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
      ORDER BY lang_g, source_g""")
  ) { (s, d) =>
    Tables
      .documents(s, d)
      .groupingSets(
        Seq(Seq(col("lang"), col("source")), Seq(col("lang")), Seq(col("source")), Seq()),
        col("lang"),
        col("source")
      )
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars_sum"))
      .select(
        coalesce(col("lang"), lit("<all>")).as("lang_g"),
        coalesce(col("source"), lit("<all>")).as("source_g"),
        col("n_docs"),
        col("chars_sum")
      )
      .orderBy("lang_g", "source_g")
  }

  /** Trailing-90-day revenue per customer via a RANGE window frame over a
    * day number — the time-decayed trailing aggregate (rolling spend,
    * rate limits) that a ROWS frame gets WRONG whenever the partition has
    * gaps or same-day peers: RANGE includes all peers of the current day
    * and exactly the preceding 89 days, row count be damned. The frame
    * key is an integer day offset so both engines share frame semantics
    * exactly; the sum is decimal-exact (Parity). */
  val q42 = Q(
    "q42_trailing_window",
    Some("""
      WITH o AS (SELECT o_orderkey, o_custkey,
                   datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day,
                   o_totalprice
                 FROM orders)
      SELECT o_orderkey, o_custkey, CAST(day AS INTEGER) AS day,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             OVER (PARTITION BY o_custkey ORDER BY day
                   RANGE BETWEEN 89 PRECEDING AND CURRENT ROW) AS DOUBLE)
          AS trailing_90d
      FROM o ORDER BY o_custkey, day, o_orderkey""")
  ) { (s, d) =>
    val w = Window
      .partitionBy("o_custkey")
      .orderBy("day")
      .rangeBetween(-89, Window.currentRow)
    Tables
      .orders(s, d)
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        datediff(col("o_orderdate"), lit("1995-01-01")).as("day"),
        col("o_totalprice")
      )
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("day"),
        sum(dec(col("o_totalprice"), 2)).over(w).cast("double").as("trailing_90d")
      )
      .orderBy("o_custkey", "day", "o_orderkey")
  }

  /** APPROXIMATE PERCENTILES WITH THEIR GUARANTEE GATED (q43): Spark's
    * `approx_percentile` is the Greenwald-Khanna summary — fixed
    * O(1/ε · log εN) state per partition, associative merges, and a
    * DETERMINISTIC (not probabilistic) rank guarantee: the returned
    * element's rank is within ε·n of ⌊p·n⌋..⌈p·n⌉, for every run, any
    * partitioning. That is the sketch a 100 TB percentile runs (q22's
    * exact interpolated path pays a full range exchange; the GK summary
    * is one map-side pass) — so like t33, the gate pins the guarantee
    * itself: the approximate values are joined BACK against the corpus
    * (broadcast — 15 rows) to measure each value's true rank interval
    * (tie-robust: [count(< v)+1, count(≤ v)]), and `rank_ok` asserts the
    * interval overlaps the guaranteed window. DuckDB recomputes n per
    * group and pins the verdict TRUE per (group, p) row — a broken
    * summary merge or accuracy regression fails on the exact quantile
    * it broke. The estimates themselves are deliberately NOT emitted
    * (they are implementation-defined within the bound; only the bound
    * is the contract). */
  val q43 = Q(
    "q43_approx_percentile_bounds",
    Some("""
      SELECT l_returnflag, p, CAST(COUNT(*) AS BIGINT) AS n,
             TRUE AS rank_ok
      FROM lineitem CROSS JOIN (SELECT UNNEST([0.25, 0.5, 0.75, 0.9, 0.99]) AS p) ps
      GROUP BY l_returnflag, p ORDER BY l_returnflag, p""")
  ) { (s, d) =>
    val ps = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
    val accuracy = 100 // eps = 1/accuracy = 1% rank error
    val li = Tables.lineitem(s, d).select(col("l_returnflag"), col("l_extendedprice"))
    val approx = li
      .groupBy("l_returnflag")
      .agg(expr(
        s"approx_percentile(l_extendedprice, array(${ps.mkString(",")}), $accuracy)")
        .as("vs"))
      .select(col("l_returnflag"), posexplode(col("vs")).as(Seq("i", "v")))
      .select(col("l_returnflag"),
        element_at(lit(ps.toArray), col("i") + 1).as("p"), col("v"))
    rankBoundVerdicts(li, approx, accuracy)
  }

  /** q43's verdict tail, factored so the poisoned-path spec can feed it
    * quantile values that VIOLATE the GK window (the gate must be able
    * to read FALSE — SketchSpec): measure each claimed quantile value's
    * true tie-robust rank interval against the corpus and assert it
    * overlaps the guaranteed ⌊p·n⌋±⌈ε·n⌉ window. `approx` carries one
    * (l_returnflag, p, v) row per claimed quantile. */
  private[graft] def rankBoundVerdicts(
      li: DataFrame, // l_returnflag, l_extendedprice
      approx: DataFrame, // l_returnflag, p, v
      accuracy: Int
  ): DataFrame =
    li.join(broadcast(approx), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"), col("p"))
      .agg(
        // the join fans each lineitem row out to its group's 5 quantile
        // rows, so within one (flag, p) group every corpus row appears
        // exactly once: one grouped pass measures n and the tie-robust
        // rank interval of that p's value
        count(lit(1)).as("n"),
        (sum(when(col("l_extendedprice") < col("v"), 1L).otherwise(0L)) + 1)
          .cast("long").as("rank_lo"),
        sum(when(col("l_extendedprice") <= col("v"), 1L).otherwise(0L))
          .cast("long").as("rank_hi")
      )
      .select(
        col("l_returnflag"), col("p"), col("n"),
        (col("rank_lo") <= ceil(col("p") * col("n")) + ceil(col("n") / accuracy) &&
          col("rank_hi") >= floor(col("p") * col("n")) - ceil(col("n") / accuracy))
          .as("rank_ok")
      )
      .orderBy("l_returnflag", "p")

  // ---- data layout: Z-order (Morton) clustering + zone maps (q44) ----

  /** Morton interleave of two 8-bit coordinates, as a Spark Column. Bit i
    * of x lands at position 2i, bit i of y at 2i+1 — the standard Z-curve
    * linearization (public layout technique; Delta/Iceberg OPTIMIZE
    * ZORDER, Hudi space-filling curves). Pure integer bit arithmetic,
    * fully codegen'd. */
  def morton8(x: Column, y: Column): Column =
    (0 to 7).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1)
    }.reduce(_ + _)

  /** The same interleave as DuckDB SQL text (operators, not functions —
    * DuckDB has no shiftleft()). */
  private def morton8Sql(x: String, y: String): String =
    (0 to 7).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** Z-ORDER LAYOUT (q44): multi-dimensional clustering for scan pruning —
    * the data-layout tool a 100 TB table needs when queries filter on TWO
    * columns and a single sort key can only serve one of them. Rows get a
    * Morton code z interleaving (l_partkey & 255, l_suppkey & 255); files
    * (here: the 16 z-buckets of the top interleaved byte) are contiguous
    * z-ranges. The defining guarantee — and the gated verdict — is that a
    * fixed z-prefix fixes the HIGH BITS OF BOTH dimensions: within every
    * bucket, x >> 4 and y >> 4 are constant (`x_aligned`/`y_aligned`), so
    * per-file min/max zone maps are tight on x AND y simultaneously and a
    * reader prunes on either predicate column. A linear layout gives this
    * for one dimension only.
    *
    * Scale: the z column is a codegen'd projection (no shuffle); the zone
    * map is one aggregate over ≤ 256 groups (map-side partial does it).
    * The physical write this manifests for is
    * `repartitionByRange(z) + sortWithinPartitions(z) + write` — one range
    * shuffle, exactly the t32 shard-write shape with z as the key
    * (LayoutSpec drives the real write and measures per-file spans).
    * DuckDB recomputes the interleave bit-for-bit (integer ops), so every
    * zone-map row and both alignment verdicts are hash-gated. */
  val q44 = Q(
    "q44_zorder_layout",
    Some(s"""
      WITH c AS (SELECT (l_partkey & 255) AS x, (l_suppkey & 255) AS y
                 FROM lineitem),
      z AS (SELECT x, y, ${morton8Sql("x", "y")} AS z FROM c),
      m AS (SELECT z >> 12 AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   MIN(x) AS min_x, MAX(x) AS max_x,
                   MIN(y) AS min_y, MAX(y) AS max_y,
                   CAST(SUM(z) AS BIGINT) AS sum_z
            FROM z GROUP BY 1)
      SELECT bucket, n_rows, min_x, max_x, min_y, max_y, sum_z,
             ((min_x >> 6) = (max_x >> 6)) AS x_aligned,
             ((min_y >> 6) = (max_y >> 6)) AS y_aligned
      FROM m ORDER BY bucket""")
  ) { (s, d) =>
    val z = Tables
      .lineitem(s, d)
      .select(
        col("l_partkey").bitwiseAND(255).as("x"),
        col("l_suppkey").bitwiseAND(255).as("y")
      )
      .withColumn("z", morton8(col("x"), col("y")))
    z.groupBy(shiftright(col("z"), 12).as("bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"),
        sum(col("z")).as("sum_z")
      )
      .select(
        col("bucket"), col("n_rows"),
        col("min_x"), col("max_x"), col("min_y"), col("max_y"), col("sum_z"),
        (shiftright(col("min_x"), 6) === shiftright(col("max_x"), 6)).as("x_aligned"),
        (shiftright(col("min_y"), 6) === shiftright(col("max_y"), 6)).as("y_aligned")
      )
      .orderBy("bucket")
  }

  // ---- dimension maintenance: CDC upsert merge with SCD2 history (q45) ----

  /** UPSERT/MERGE with SCD-type-2 history (q45): fold a change batch into
    * a dimension snapshot, attributing every key to exactly one action and
    * emitting effective-dated version rows — the MERGE INTO shape every
    * warehouse dimension needs. The snapshot is customers with
    * c_custkey % 4 <> 0 (a dim that predates 1/4 of the keys); the batch
    * is the per-customer ledger of RECENT orders (the CDC window:
    * activity since 2001-01-01 — last activity date + exact decimal
    * spend). Keys in both produce a closed v1 (validity ended at the
    * batch date) plus an open v2 with the merged balance; dim-only keys
    * pass through `unchanged`; batch-only keys become `insert` rows —
    * all three actions populated at every tier (the window covers ~60%
    * of customers; the %4 snapshot gap supplies the inserts).
    *
    * Scale: ONE full-outer sort-merge join on the dimension key (the batch
    * is pre-aggregated — one shuffle — and at 100 TB a bucketed dim makes
    * the join shuffle-free on its side), then version rows come from
    * explode-of-struct-array on the joined row: no window, no second pass,
    * no driver data. History grows only for keys the batch touches.
    * Balance arithmetic is exact DECIMAL(18,2) (Parity discipline), cast
    * to double only at the output boundary, so the merge is bit-identical
    * at any cluster size and hash-gated per row. */
  val q45 = Q(
    "q45_dim_merge_scd2",
    Some("""
      WITH dim AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 4 <> 0),
      batch AS (SELECT o_custkey AS c_custkey, MAX(o_orderdate) AS last_dt,
                       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
                FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
                GROUP BY 1)
      SELECT d.c_custkey, 1 AS version, 'close' AS action,
             d.c_acctbal AS acctbal,
             CAST(TIMESTAMP '1992-01-01' AS VARCHAR) AS valid_from,
             CAST(b.last_dt AS VARCHAR) AS valid_to
      FROM dim d JOIN batch b USING (c_custkey)
      UNION ALL
      SELECT d.c_custkey, 2, 'update',
             CAST(CAST(d.c_acctbal AS DECIMAL(18,2)) + b.spend AS DOUBLE),
             CAST(b.last_dt AS VARCHAR), CAST(NULL AS VARCHAR)
      FROM dim d JOIN batch b USING (c_custkey)
      UNION ALL
      SELECT d.c_custkey, 1, 'unchanged', d.c_acctbal,
             CAST(TIMESTAMP '1992-01-01' AS VARCHAR), CAST(NULL AS VARCHAR)
      FROM dim d ANTI JOIN batch b USING (c_custkey)
      UNION ALL
      SELECT b.c_custkey, 1, 'insert', CAST(b.spend AS DOUBLE),
             CAST(b.last_dt AS VARCHAR), CAST(NULL AS VARCHAR)
      FROM batch b ANTI JOIN dim d USING (c_custkey)
      ORDER BY c_custkey, version""")
  ) { (s, d) =>
    // validity bounds travel as strings: parquet timestamps are µs while
    // DuckDB's compare frame reads ns — the text form is precision-proof
    // (same discipline as the o_date casts above)
    val epoch = lit("1992-01-01").cast("timestamp").cast("string")
    val tsNull = lit(null).cast("string")
    val dim = Tables
      .customer(s, d)
      .filter(col("c_custkey") % 4 =!= 0)
      .select(col("c_custkey"), col("c_acctbal"))
    val batch = Tables
      .orders(s, d)
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(
        max(col("o_orderdate")).as("last_dt"),
        sum(dec(col("o_totalprice"), 2)).as("spend")
      )
    def v(version: Int, action: String, bal: Column, from: Column, to: Column) =
      struct(
        lit(version).as("version"), lit(action).as("action"),
        bal.as("acctbal"),
        from.cast("string").as("valid_from"), to.cast("string").as("valid_to")
      )
    val merged = dim
      .withColumn("in_dim", lit(true))
      .join(batch.withColumn("in_batch", lit(true)), Seq("c_custkey"), "full_outer")
    val versions = when(
      col("in_dim").isNotNull && col("in_batch").isNotNull,
      array(
        v(1, "close", col("c_acctbal"), epoch, col("last_dt")),
        v(2, "update", (dec(col("c_acctbal"), 2) + col("spend")).cast("double"),
          col("last_dt"), tsNull)
      )
    ).when(
      col("in_dim").isNotNull,
      array(v(1, "unchanged", col("c_acctbal"), epoch, tsNull))
    ).otherwise(
      array(v(1, "insert", col("spend").cast("double"), col("last_dt"), tsNull))
    )
    merged
      .select(col("c_custkey"), explode(versions).as("r"))
      .select(col("c_custkey"), col("r.version"), col("r.action"),
        col("r.acctbal"), col("r.valid_from"), col("r.valid_to"))
      .orderBy("c_custkey", "version")
  }

  // ---- ordered funnel analysis (q46) ----

  /** FUNNEL (q46): how many users progress view → click → purchase IN
    * ORDER — the product-analytics staple sessionization (q36) feeds.
    * Stage k's entry time is the user's first stage-k event AT OR AFTER
    * their stage-(k-1) entry (the exact sequential-funnel semantics, not
    * the min-per-type approximation that counts a click that preceded
    * every view). Emits one row per stage: users reached + conversion
    * from the previous stage.
    *
    * Scale: NO windows — each stage is one conditional-min aggregate
    * keyed by user_id, chained through an equi-join on the previous
    * stage's (user, entry-time) frame: three user-keyed linear shuffles,
    * each strictly shrinking (stage k's frame ⊆ stage k-1's users). At
    * 100 TB the events table pre-partitioned by user_id makes every leg
    * co-located; the final stage counts are three 1-row aggregates
    * cross-joined broadcast. Conversion ratios are int64/int64 IEEE
    * division — bit-identical across engines. */
  val q46 = Q(
    "q46_funnel",
    Some("""
      WITH e AS (SELECT user_id, event_type,
                        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s
                 FROM events),
      v AS (SELECT user_id, MIN(ts_s) AS t0 FROM e
            WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, MIN(ts_s) AS t0 FROM e JOIN v USING (user_id)
            WHERE event_type = 'click' AND ts_s >= v.t0 GROUP BY 1),
      p AS (SELECT e.user_id, MIN(ts_s) AS t0 FROM e JOIN c USING (user_id)
            WHERE event_type = 'purchase' AND ts_s >= c.t0 GROUP BY 1),
      n AS (SELECT (SELECT COUNT(*) FROM v) AS nv,
                   (SELECT COUNT(*) FROM c) AS nc,
                   (SELECT COUNT(*) FROM p) AS np)
      SELECT '1_view' AS stage, nv AS n_users, CAST(1 AS DOUBLE) AS conv FROM n
      UNION ALL
      SELECT '2_click', nc,
             CASE WHEN nv = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(nc AS DOUBLE) / nv END FROM n
      UNION ALL
      SELECT '3_purchase', np,
             CASE WHEN nc = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(np AS DOUBLE) / nc END FROM n
      ORDER BY stage""")
  ) { (s, d) =>
    funnel(
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("ts_s")),
      Seq("view", "click", "purchase"))
      .orderBy("stage")
  }

  /** Sequential funnel over an events frame (q46's kernel, reusable):
    * `events` has (user_id, event_type, ts_s); `stages` is the ordered
    * type list. Stage k's entry time per user is their first stage-k
    * event at or after the stage-(k-1) entry — exact ordered semantics.
    * Emits ("<k>_<type>", n_users, conv-from-previous), k 1-based.
    * Each stage is one conditional-min aggregate chained through a
    * user-keyed equi-join on a strictly shrinking frame; no windows. */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    def stageAfter(prev: DataFrame, evType: String): DataFrame =
      events.filter(col("event_type") === evType)
        .join(prev, "user_id")
        .filter(col("ts_s") >= col("t0"))
        .groupBy("user_id")
        .agg(min(col("ts_s")).as("t_next"))
        .select(col("user_id"), col("t_next").as("t0"))
    val first = events.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min(col("ts_s")).as("t0"))
    val perStage = stages.tail.scanLeft(first)(stageAfter)
    val counts = perStage.zipWithIndex.map { case (f, i) =>
      f.agg(count(lit(1)).as(s"n$i"))
    }
    val n = counts.tail.foldLeft(counts.head)((a, b) => a.crossJoin(broadcast(b)))
    val rows = stages.zipWithIndex.map { case (st, i) =>
      val conv =
        if (i == 0) lit(1.0)
        else when(col(s"n${i - 1}") === 0, 0.0)
          .otherwise(col(s"n$i").cast("double") / col(s"n${i - 1}"))
      n.select(lit(s"${i + 1}_$st").as("stage"), col(s"n$i").as("n_users"),
        conv.as("conv"))
    }
    rows.reduce(_ unionAll _)
  }

  // ---- join-key skew audit (q47) ----

  /** SKEW AUDIT (q47): the pre-join diagnostic a 100 TB shuffle plan
    * starts from — per candidate join key, its group size against the
    * key population's shape (max / mean / skew factor), with the top-5
    * heaviest keys named. A skew factor ≫ 1 on the audit is the signal
    * to route that join through [[graft.operators.SkewJoin]] (salting)
    * or AQE's skew split; the audit itself is what makes that a measured
    * decision instead of a post-mortem.
    *
    * Scale: one count-aggregate over the fact table (map-side combined),
    * then everything downstream is key-population-sized: the global
    * stats are a 1-row aggregate and the heavy-key cut is a partial
    * top-k (TakeOrderedAndProject), never a sort of the counts. Ratios
    * are exact-int IEEE divisions. */
  val q47 = Q(
    "q47_skew_audit",
    Some("""
      WITH c AS (SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS n
                 FROM orders GROUP BY 1),
      g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(MAX(n) AS BIGINT) AS max_n,
                   CAST(SUM(n) AS BIGINT) AS total FROM c)
      SELECT key, n, n_keys, max_n,
             CAST(total AS DOUBLE) / n_keys AS avg_n,
             CAST(n AS DOUBLE) * n_keys / total AS skew
      FROM c CROSS JOIN g
      ORDER BY n DESC, key LIMIT 5""")
  ) { (s, d) =>
    skewAudit(Tables.orders(s, d), "o_custkey", 5)
      .orderBy(col("n").desc, col("key"))
  }

  /** Join-key skew audit (q47's kernel, reusable over any frame): group
    * sizes of `keyCol`, global population stats, and the `topK` heaviest
    * keys with their skew factor (group size / mean group size). One
    * map-side-combined count aggregate over the data; everything after
    * is key-population-sized with a partial top-k cut. */
  def skewAudit(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    val counts = df
      .groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n"))
    val g = counts.agg(
      count(lit(1)).as("n_keys"),
      max(col("n")).as("max_n"),
      sum(col("n")).as("total"))
    counts
      .orderBy(col("n").desc, col("key"))
      .limit(topK)
      .crossJoin(broadcast(g))
      .select(
        col("key"), col("n"), col("n_keys"), col("max_n"),
        (col("total").cast("double") / col("n_keys")).as("avg_n"),
        (col("n").cast("double") * col("n_keys") / col("total")).as("skew"))
  }

  // ---- incremental rollup maintenance, gated against full recompute (q48) ----

  /** INCREMENTAL ROLLUP REFRESH (q48): fold a late-arriving batch into a
    * materialized monthly revenue rollup and PROVE the incremental path
    * equals a from-scratch recompute, month by month. The snapshot is the
    * rollup of orders before 2001-01-01; the delta is everything after
    * (the late batch). The incremental path re-aggregates ONLY the
    * delta's months and adds them onto the snapshot through one
    * month-keyed outer merge — at 100 TB that's the difference between
    * touching a handful of partitions and rescanning years. The gated
    * verdict `match_ok` compares the merged result against the full
    * recompute per month (exact DECIMAL revenue, so equality is
    * bit-meaningful); `touched` marks the months the delta actually hit.
    *
    * Scale: snapshot + delta + full are each one map-side-combined
    * aggregate to ≤ |months| rows; the merge and the audit join are
    * metadata-sized. In production the snapshot is a persisted artifact
    * (the SnapshotLog pattern) and only the delta aggregate runs per
    * refresh; the full-recompute leg exists here as the in-plan gate. */
  val q48 = Q(
    "q48_incremental_rollup",
    Some(s"""
      WITH snap AS (SELECT date_trunc('month', o_orderdate) AS m,
                           CAST(COUNT(*) AS BIGINT) AS n,
                           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
                    FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01' GROUP BY 1),
      delta AS (SELECT date_trunc('month', o_orderdate) AS m,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
                FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01' GROUP BY 1),
      merged AS (SELECT COALESCE(s.m, d.m) AS m,
                        COALESCE(s.n, 0) + COALESCE(d.n, 0) AS n,
                        COALESCE(s.rev, CAST(0 AS DECIMAL(18,2)))
                          + COALESCE(d.rev, CAST(0 AS DECIMAL(18,2))) AS rev,
                        (d.m IS NOT NULL) AS touched
                 FROM snap s FULL OUTER JOIN delta d ON s.m = d.m),
      full_r AS (SELECT date_trunc('month', o_orderdate) AS m,
                        CAST(COUNT(*) AS BIGINT) AS n,
                        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
                 FROM orders GROUP BY 1)
      SELECT CAST(CAST(merged.m AS DATE) AS VARCHAR) AS month,
             merged.n, CAST(merged.rev AS DOUBLE) AS rev, merged.touched,
             (merged.n = full_r.n AND merged.rev = full_r.rev) AS match_ok
      FROM merged JOIN full_r ON merged.m = full_r.m
      ORDER BY month""")
  ) { (s, d) =>
    val cutoff = lit("2001-01-01").cast("timestamp")
    // rev stays DECIMAL through the merge: snapshot and delta partition
    // the orders disjointly, so decimal addition makes merged == full
    // EXACTLY (associativity) — the double cast happens only at the
    // output boundary, after the match_ok comparison
    def rollup(src: DataFrame): DataFrame =
      src
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"), 2)).as("rev"))
    val orders = Tables.orders(s, d)
    val snap = rollup(orders.filter(col("o_orderdate") < cutoff))
    val delta = rollup(orders.filter(col("o_orderdate") >= cutoff))
    val zeroDec = lit(0).cast("decimal(18,2)")
    val merged = snap
      .withColumnRenamed("n", "sn").withColumnRenamed("rev", "srev")
      .join(
        delta.withColumnRenamed("n", "dn").withColumnRenamed("rev", "drev")
          .withColumn("touched", lit(true)),
        Seq("m"), "full_outer")
      .select(
        col("m"),
        (coalesce(col("sn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("srev"), zeroDec) + coalesce(col("drev"), zeroDec)).as("rev"),
        coalesce(col("touched"), lit(false)).as("touched"))
    val full = rollup(orders)
      .withColumnRenamed("n", "fn").withColumnRenamed("rev", "frev")
    merged
      .join(full, "m")
      .select(
        col("m").cast("date").cast("string").as("month"),
        col("n"), col("rev").cast("double").as("rev"), col("touched"),
        (col("n") === col("fn") && col("rev") === col("frev")).as("match_ok"))
      .orderBy("month")
  }

  // ---- weekly cohort retention (q49) ----

  /** COHORT RETENTION (q49): users grouped by the week of their FIRST
    * event (the cohort), then counted in every later week they return —
    * the (cohort_week, week_offset) triangle every product-analytics and
    * data-freshness dashboard draws. Retention is n_users / cohort size;
    * offset 0 is the cohort itself (retention 1.0 by construction).
    *
    * Scale: cohort assignment is one user-keyed aggregate; the event
    * stream re-joins it on user_id (co-partitioned with the agg's own
    * exchange), dedups to (user, cohort, offset) — the per-user row count
    * is bounded by the number of distinct weeks, not events — and the
    * final aggregate is |cohorts| × |offsets| rows, metadata-sized at any
    * corpus age. Cohort sizes re-attach by broadcast. No windows, no
    * range joins. Retention is int64/int64 IEEE division — bit-identical
    * across engines. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val e = events.select(
      col("user_id"), date_trunc("week", col("ts")).as("w"))
    val first = e.groupBy("user_id").agg(min(col("w")).as("cw"))
    val visits = e.join(first, "user_id")
      .select(
        col("user_id"), col("cw"),
        (datediff(to_date(col("w")), to_date(col("cw"))) / 7)
          .cast("int").as("week_offset"))
      .distinct()
    val cohortN = first.groupBy("cw").agg(count(lit(1)).as("cohort_n"))
    visits
      .groupBy("cw", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .join(broadcast(cohortN), "cw")
      .select(
        col("cw").cast("date").cast("string").as("cohort_week"),
        col("week_offset"),
        col("n_users"),
        (col("n_users").cast("double") / col("cohort_n")).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  val q49 = Q(
    "q49_cohort_retention",
    Some("""
      WITH e AS (SELECT user_id, date_trunc('week', ts) AS w FROM events),
      f AS (SELECT user_id, MIN(w) AS cw FROM e GROUP BY 1),
      r AS (SELECT DISTINCT e.user_id, cw,
                   CAST(date_diff('day', CAST(cw AS DATE), CAST(w AS DATE)) / 7 AS INTEGER) AS week_offset
            FROM e JOIN f USING (user_id)),
      c AS (SELECT cw, COUNT(*) AS cohort_n FROM f GROUP BY 1)
      SELECT CAST(CAST(r.cw AS DATE) AS VARCHAR) AS cohort_week, week_offset,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(cohort_n) AS retention
      FROM r JOIN c ON r.cw = c.cw
      GROUP BY 1, 2 ORDER BY 1, 2""")
  ) { (s, d) =>
    cohortRetention(Tables.events(s, d))
  }

  // ---- rolling 7-day active users (q50) ----

  /** ROLLING ACTIVES (q50): per day, the distinct users active that day
    * (DAU) and over the trailing 7 days (WAU), plus the DAU/WAU
    * stickiness ratio — the engagement surface every events pipeline
    * reports.
    *
    * Scale: the naive plan is a range join (days × 7-day event windows)
    * or a RANGE window over the whole stream — both rejected here. This
    * plan dedups to (day, user) pairs — linear — then EXPLODES each pair
    * into the ≤7 target days it can contribute to (day+0 … day+6), semi
    * joins against the observed-day list (broadcast: bounded by corpus
    * age in days, metadata-sized), and counts distinct users per target
    * day: two linear user-keyed shuffles with a constant 7× fan-out, no
    * window, no range join. Stickiness is int64/int64 IEEE division. */
  def rollingActive(events: DataFrame, windowDays: Int = 7): DataFrame =
    rollingActiveFromPairs(
      events.select(col("ts").cast("date").as("day"), col("user_id")).distinct(),
      windowDays)

  /** q50's kernel over an already-distinct (day, user_id) pair frame —
    * the shape the incremental maintainer
    * ([[graft.streaming.EventStream.rollingActiveStream]]) persists, so
    * the streamed recompute and the batch query share ONE body. */
  def rollingActiveFromPairs(pairsIn: DataFrame, windowDays: Int): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val pairs = pairsIn.select(col("day"), col("user_id"))
    val days = pairs.select(col("day")).distinct()
    val dau = pairs.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = pairs
      .withColumn("k", explode(sequence(lit(0), lit(windowDays - 1))))
      .select(expr("date_add(day, k)").as("day"), col("user_id"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, "day")
      .select(
        col("day").cast("string").as("day"),
        col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau")).as("stickiness"))
      .orderBy("day")
  }

  val q50 = Q(
    "q50_rolling_active",
    Some("""
      WITH p AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      dau AS (SELECT day, COUNT(*) AS dau FROM p GROUP BY 1),
      wau AS (SELECT t.day, COUNT(DISTINCT p.user_id) AS wau
              FROM (SELECT DISTINCT day FROM p) t
              JOIN p ON p.day BETWEEN t.day - 6 AND t.day
              GROUP BY 1)
      SELECT CAST(dau.day AS VARCHAR) AS day, dau, wau,
             CAST(dau AS DOUBLE) / wau AS stickiness
      FROM dau JOIN wau ON dau.day = wau.day
      ORDER BY day""")
  ) { (s, d) =>
    rollingActive(Tables.events(s, d))
  }

  // ---- market-basket association (q51) ----

  /** MARKET-BASKET LIFT (q51): part pairs that co-occur in the same
    * order, with support / confidence / lift — the association-rule
    * mining staple (recommendations, assortment analysis). Emits the
    * top-20 pairs by co-occurrence count.
    *
    * Scale: pair generation is a SELF-JOIN ON THE BASKET KEY
    * (co-partitioned equi-join on l_orderkey), so the blow-up is
    * per-basket C(n,2) — bounded by basket size squared, never
    * corpus², and the a < b condition halves it. Per-part basket
    * counts are one grouped pass; the final metrics re-attach them by
    * partkey equi-joins; top-k is a TakeOrderedAndProject. All counts
    * are exact integers; support/confidence/lift are IEEE divisions in
    * a fixed evaluation order, bit-identical across engines. */
  def basketLift(baskets: DataFrame, topK: Int = 20): DataFrame = {
    // r16 restructure, measured against the old bp-self-join shape whose
    // profile showed the SAME distinct subtree computed once per consumer
    // (self-join attribute dedup defeats exchange reuse — two full
    // scan+distinct chains plus a 600k-row broadcast build): ONE shuffle
    // (groupBy basket) replaces distinct + self-join + two count dims.
    // collect_set dedupes (basket, item) exactly like the old
    // `.distinct()`; sort_array makes the set strictly increasing, so
    // index-ordered pairs ARE the `a.item < b.item` pairs; ic and
    // n_baskets re-derive from the same materialized lists. The pair
    // explosion is per-basket C(n,2) exactly as before — enumerated by
    // index arithmetic in codegen (the explodedShingles discipline)
    // instead of a hash-join probe. localCheckpoint materializes the
    // basket lists once for the three consumers (pairs, ic, n); at 100 TB
    // swap for a materialized intermediate, same shape (the t30 note).
    val lists = baskets
      .groupBy(col("basket"))
      .agg(sort_array(collect_set(col("item"))).as("items"))
      .localCheckpoint(true)
    val n = lists.agg(count(lit(1)).as("n_baskets"))
    val ic = lists
      .select(explode(col("items")).as("item"))
      .groupBy("item")
      .agg(count(lit(1)).as("c"))
    val pairs = lists
      .select(posexplode(col("items")).as(Seq("i", "item_a")), col("items"))
      // successors of position i (0-based) live at 1-based slice start
      // i+2; an empty tail explodes to zero rows (last element, size-1
      // length 0), which is exactly C(1,2) = 0
      .select(
        col("item_a"),
        explode(slice(col("items"), col("i") + 2, size(col("items")) - col("i") - 1))
          .as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
    // Top-k FIRST, metrics after: the ic/n joins are 1:1 by construction
    // (ic is a groupBy("item") result — exactly one row per item; n is a
    // single global row), so taking the top-k pairs on the FINAL sort key
    // (n_ab desc, item_a, item_b) before those joins selects exactly the
    // rows the old plan kept — but the metric joins + double math now run
    // over k rows instead of every distinct pair (corpus-squared-ish at
    // scale; the limit could not push below the joins on its own).
    val top = pairs
      .orderBy(col("n_ab").desc, col("item_a"), col("item_b"))
      .limit(topK)
    top
      .join(ic.select(col("item").as("item_a"), col("c").as("c_a")), "item_a")
      .join(ic.select(col("item").as("item_b"), col("c").as("c_b")), "item_b")
      .crossJoin(broadcast(n))
      .select(
        col("item_a"), col("item_b"), col("n_ab"),
        (col("n_ab").cast("double") / col("n_baskets")).as("support"),
        (col("n_ab").cast("double") / col("c_a")).as("confidence"),
        (col("n_ab").cast("double") * col("n_baskets") / (col("c_a") * col("c_b")))
          .as("lift"))
      .orderBy(col("n_ab").desc, col("item_a"), col("item_b"))
  }

  val q51 = Q(
    "q51_basket_lift",
    Some("""
      WITH bp AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
      n AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM bp),
      ic AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM bp GROUP BY 1),
      p AS (SELECT a.item AS item_a, b.item AS item_b, CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM bp a JOIN bp b ON a.basket = b.basket AND a.item < b.item
            GROUP BY 1, 2)
      SELECT item_a, item_b, n_ab,
             CAST(n_ab AS DOUBLE) / n_baskets AS support,
             CAST(n_ab AS DOUBLE) / ca.c AS confidence,
             CAST(n_ab AS DOUBLE) * n_baskets / (ca.c * cb.c) AS lift
      FROM p JOIN ic ca ON item_a = ca.item JOIN ic cb ON item_b = cb.item
      CROSS JOIN n
      ORDER BY n_ab DESC, item_a, item_b LIMIT 20""")
  ) { (s, d) =>
    basketLift(
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")))
  }

  // ---- time-series gap fill + LOCF (q52) ----

  /** GAP FILL + LOCF (q52): per user, the dense daily series from their
    * first to last active day, with missing days materialized and the
    * last observed reading carried forward — the time-series
    * regularization step every metrics/feature pipeline runs before
    * joining daily grains. Emits (user_id, day, observed, v).
    *
    * Scale: the day explosion is per-user span-bounded (sequence over
    * [first, last] — calendar-sized, not event-sized); the LOCF window
    * is PARTITIONED BY user (thousands of parallel partitions, each a
    * few hundred rows), never a global window — WindowBoundSpec's
    * standing rule. The daily reading is MAX(value) that day (a
    * deterministic reducer); the first day is observed by construction,
    * so no leading null survives. */
  def gapFillLocf(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("user_id"), col("ts").cast("date").as("day"), col("value"))
      .groupBy("user_id", "day")
      .agg(max(col("value")).as("obs"))
    val span = daily.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val dense = span
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense
      .join(daily, Seq("user_id", "day"), "left")
      .select(
        col("user_id"),
        col("day").cast("string").as("day"),
        col("obs").isNotNull.as("observed"),
        last(col("obs"), ignoreNulls = true).over(w).as("v"))
      .orderBy("user_id", "day")
  }

  val q52 = Q(
    "q52_gap_fill_locf",
    Some("""
      WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day, MAX(value) AS obs
                     FROM events GROUP BY 1, 2),
      span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
      dense AS (SELECT user_id, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
                FROM span)
      SELECT dense.user_id, CAST(dense.day AS VARCHAR) AS day,
             daily.obs IS NOT NULL AS observed,
             last_value(daily.obs IGNORE NULLS) OVER (
               PARTITION BY dense.user_id ORDER BY dense.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      FROM dense LEFT JOIN daily
        ON dense.user_id = daily.user_id AND dense.day = daily.day
      ORDER BY dense.user_id, day""")
  ) { (s, d) =>
    gapFillLocf(Tables.events(s, d).select(col("user_id"), col("ts"), col("value")))
  }

  // ---- behavioral Markov chain: event transition matrix (q53) ----

  /** EVENT TRANSITION MATRIX (q53): per user, consecutive event pairs
    * (ordered by time, event_id tie-break), aggregated to a first-order
    * Markov transition table — counts and row-normalized probabilities
    * per source state. The behavioral twin of q46's fixed funnel: the
    * funnel asks "did users follow MY path", this reports the paths
    * users actually take.
    *
    * Scale: the lag window partitions BY USER (millions of parallel
    * partitions, each a user's event count — never a global window);
    * the aggregate is |event_types|² rows, metadata-sized. Probability
    * is int64/int64 IEEE division against a broadcast row-total. */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("from_type").agg(sum(col("n")).as("tot"))
    trans
      .join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("tot")).as("p"))
      .orderBy("from_type", "to_type")
  }

  val q53 = Q(
    "q53_transition_matrix",
    Some("""
      WITH t AS (SELECT user_id, event_type,
                        LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
                 FROM events),
      c AS (SELECT event_type AS from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
      tt AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY 1)
      SELECT from_type, to_type, n, CAST(n AS DOUBLE) / tot AS p
      FROM c JOIN tt USING (from_type)
      ORDER BY from_type, to_type""")
  ) { (s, d) =>
    transitionMatrix(Tables.events(s, d))
  }

  // ---- tolerance-bounded as-of join (q54) ----

  /** AS-OF WITHIN TOLERANCE (q54): for each click, the user's latest
    * preceding purchase WITHIN 3 DAYS — attribution's standard lookback
    * window (pandas merge_asof's `tolerance`). Clicks whose nearest
    * purchase is older than the window keep NULL payload but stay in the
    * output: "no attributable purchase" is an answer, not a dropped row.
    *
    * Scale: AsOfJoin's union + carried-window shape unchanged (one
    * user-keyed shuffle + sort, no inequality-join blow-up); the
    * tolerance is a post-carry gate on the SAME carried row — if even
    * the nearest match is outside the window, every match is, so
    * nulling the nearest IS "latest within tolerance". */
  val q54 = Q(
    "q54_asof_tolerance",
    Some("""
      WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
      p AS (SELECT * FROM events WHERE event_type = 'purchase'),
      m AS (SELECT c.event_id, c.user_id, p.event_id AS purchase_id,
              p.value AS purchase_value,
              ROW_NUMBER() OVER (PARTITION BY c.event_id
                ORDER BY p.ts DESC NULLS LAST, p.event_id DESC NULLS LAST) AS rn
            FROM c LEFT JOIN p
              ON c.user_id = p.user_id AND p.ts <= c.ts
                 AND p.ts >= c.ts - INTERVAL 3 DAY)
      SELECT event_id, user_id, purchase_id, purchase_value
      FROM m WHERE rn = 1 ORDER BY event_id""")
  ) { (s, d) =>
    val e = Tables.events(s, d)
    AsOfJoin.latestAtOrBefore(
      left = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts")),
      right = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value")),
      leftKey = "user_id",
      rightKey = "user_id",
      leftTime = "ts",
      rightTime = "ts",
      rightTieBreak = "purchase_id",
      payload = Seq("purchase_id", "purchase_value"),
      toleranceSeconds = Some(3L * 86400)
    )
      .select("event_id", "user_id", "purchase_id", "purchase_value")
      .orderBy("event_id")
  }

  // ---- snapshot-log time travel (q55) ----

  /** TIME TRAVEL + COMMIT HISTORY (q55): the lakehouse read surface over
    * the engine's own snapshot log (operators/SnapshotLog — the commit
    * protocol every persisted index here rides). A two-generation
    * versioned table of the documents corpus is committed once per
    * dataset (v1 = even doc_ids, v2 = the full corpus); the query reads
    * EACH version through `SnapshotLog.at` (the `VERSION AS OF` resolve,
    * typed-error on GC'd/torn versions) and audits it with per-version
    * row/source counts — both oracle-recomputable from the documents
    * table, so the gate pins that time travel returns exactly the
    * committed generation, not the current one. `history` (the DESCRIBE
    * HISTORY surface) must agree with the per-version reads; its
    * version list rides the emission through n_versions.
    *
    * Scale: resolve is one small-file read per version; the audited
    * scans are ordinary pruned parquet reads of the referenced
    * directories. Nothing here is corpus-sized beyond the reads the
    * audit itself asks for. */
  val q55 = Q(
    "q55_snapshot_timetravel",
    Some("""
      SELECT 1 AS version,
             CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0) AS BIGINT) AS n_rows,
             CAST((SELECT COUNT(DISTINCT source) FROM documents WHERE doc_id % 2 = 0) AS BIGINT) AS n_sources,
             CAST(2 AS INTEGER) AS n_versions
      UNION ALL
      SELECT 2, CAST((SELECT COUNT(*) FROM documents) AS BIGINT),
             CAST((SELECT COUNT(DISTINCT source) FROM documents) AS BIGINT),
             CAST(2 AS INTEGER)
      ORDER BY version""")
  ) { (s, d) =>
    val L = graft.operators.SnapshotLog
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val root = graft.queries.LlmOps.scratchDir("q55_versions", d) + "/docs"
    graft.queries.LlmOps.buildSharedOnce(root) {
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(L.dataDir(root, "docs", "gen-1"))
      L.commit(s, root, "doc-snapshots", 1, Map("docs" -> Seq("gen-1")), Map.empty): Unit
      docs.filter(col("doc_id") % 2 =!= 0)
        .write.mode("overwrite").parquet(L.dataDir(root, "docs", "gen-2"))
      L.commit(s, root, "doc-snapshots", 2,
        Map("docs" -> Seq("gen-1", "gen-2")), Map.empty): Unit
    }
    val nVersions = L.history(s, root, "doc-snapshots").length
    val perVersion = Seq(1, 2).map { v =>
      val snap = L.at(s, root, "doc-snapshots", v)
      s.read.parquet(snap.dirs(root, "docs"): _*)
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("source")).as("n_sources"))
        .select(lit(v).as("version"), col("n_rows"), col("n_sources"),
          lit(nVersions).as("n_versions"))
    }
    perVersion.reduce(_ unionByName _).orderBy("version")
  }

  val all: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13, q14, q15,
    q16, q17, q18, q19, q20, q21, q22, q23, q24, q25, q26, q27, q28, q29,
    q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40, q41, q42, q43,
    q44, q45, q46, q47, q48, q49, q50, q51, q52, q53, q54, q55
  )
}
