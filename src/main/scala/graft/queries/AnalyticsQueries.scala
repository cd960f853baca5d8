package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Relational, Sessionize}
import graft.sources.Tables

/** SURVEY §2 group B — the analytics/query-engine surface (flagship bench
  * queries plus window/pivot/rollup/json capabilities).
  *
  * Determinism rules (SURVEY §4): money sums go through DECIMAL casts
  * (exact, order-independent) and only the final output is DOUBLE; every
  * query ends in a total ORDER BY with non-null keys.
  */
object AnalyticsQueries {

  /** Exact decimal sum emitted as double: sum(CAST(e AS DECIMAL(p,s))). */
  private[queries] def dsum(e: String, p: Int = 28, s: Int = 6) =
    expr(s"CAST(sum(CAST($e AS DECIMAL($p,$s))) AS DOUBLE)")

  val all: Seq[QueryDef] = Seq(

    // B1 — pricing summary (TPC-H Q1 shape) on lineitem. Pure partial-agg
    // groupBy: map-side combine, 6-group output, scan is the only cost.
    QueryDef.sql("q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum("l_quantity", 18, 2).as("sum_qty"),
          dsum("l_extendedprice", 18, 2).as("sum_base_price"),
          dsum("l_extendedprice*(1-l_discount)").as("sum_disc_price"),
          dsum("l_extendedprice*(1-l_discount)*(1+l_tax)").as("sum_charge"),
          (dsum("l_quantity", 18, 2) / count(lit(1))).as("avg_qty"),
          (dsum("l_extendedprice", 18, 2) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // B2 — top-k revenue (TPC-H Q3 shape): dim-filtered customer joins the
    // orders→lineitem fact chain.
    QueryDef.sql("q3_topk_revenue",
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-03-15 00:00:00").cast("timestamp"))
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1996-03-15 00:00:00").cast("timestamp"))
      // AGGREGATE FIRST, join last (r12 profiled this query 11.7× the
      // baseline at sf1 — the old shape shuffled every line-grain row
      // through the fact-fact join before reducing). Revenue reduces to
      // order grain straight off the scan: the partial agg collapses
      // each order's lines map-side (lineitem lands clustered by
      // orderkey), so the one fact shuffle moves order-grain partials,
      // not lines. The BUILDING/date restriction is an order-keyed SEMI
      // join against a skinny key set (customer join carries no
      // payload), the global top-10 runs on the native bounded-heap
      // operator (B10n partial→final, no full sort), and only the 10
      // surviving rows join back to orders for their date/priority —
      // dim-lookup at answer size, not fact size. No broadcast hint on
      // customer: it grows with sf; locally the 64 MB auto-threshold +
      // AQE still pick broadcast, at scale they fall back to shuffle.
      val rev = li.groupBy("l_orderkey")
        .agg(dsum("l_extendedprice*(1-l_discount)").as("revenue"))
      val okeys = ord.join(cust, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("o_orderkey"))
      val top = Relational.topKByAgg(
        rev.join(okeys, col("l_orderkey") === col("o_orderkey"), "left_semi"),
        10, Seq(col("revenue").desc, col("l_orderkey")))
      top.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
    },

    // B3 — multi-join volume rollup (TPC-H Q5 shape): fixed-size dims
    // (nation/region) broadcast by hint; sf-proportional tables join by
    // whatever the threshold + AQE pick at the actual scale.
    QueryDef.sql("q5_nation_volume",
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders   ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |              JOIN nation   ON c_nationkey = n_nationkey
        |              JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
                col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      // The r_name='ASIA' restriction is a DIM predicate two fact joins
      // away from the facts it prunes — Catalyst won't reorder a dim
      // filter through customer⋈orders⋈lineitem⋈supplier, so left in
      // star position it only discards ~80% of the joined rows AFTER
      // they were built. Derive the ASIA nation set (5 keys, broadcast)
      // and semi-join it into customer AND supplier up front: the
      // restriction becomes scan-side pruning on both linear-growth
      // sides, and every downstream shuffle moves only ASIA rows.
      val asiaNations = Tables.nation(s, d)
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val cust = Tables.customer(s, d).join(
        broadcast(asiaNations.select("n_nationkey")),
        col("c_nationkey") === col("n_nationkey"), "left_semi")
      val supp = Tables.supplier(s, d).join(
        broadcast(asiaNations.select(col("n_nationkey").as("sn_key"))),
        col("s_nationkey") === col("sn_key"), "left_semi")
      // Prune LINEITEM before its shuffle too: suppliers are the
      // broadcastable side by construction (dim-sized at any sf), so the
      // ASIA supplier KEY SET semi-joins into the fact scan and the
      // orderkey exchange moves ~20% of lineitem instead of all of it —
      // the same scan-side discipline as the customer semi-join above,
      // applied to the one remaining full-fact shuffle (measured sf10:
      // 4.8 s → the lineitem exchange dominated). The later supplier
      // join enforces the full (suppkey, nationkey-match) predicate;
      // this semi-join only drops rows that join could never keep.
      val li = Tables.lineitem(s, d).join(
        broadcast(supp.select(col("s_suppkey").as("asia_suppkey"))),
        col("l_suppkey") === col("asia_suppkey"), "left_semi")
      cust
        .join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .join(supp,
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum("l_extendedprice*(1-l_discount)").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // B11 — promo revenue share (TPC-H Q14 shape): fact⋈dim join +
    // conditional aggregation; the only fact-side cost is the pushed-down
    // date-range scan.
    QueryDef.sql("q14_promo_revenue",
      """SELECT
        |  100.0 * CAST(CAST(sum(CAST(CASE WHEN p_type LIKE 'PROMO%'
        |      THEN l_extendedprice*(1-l_discount) ELSE 0 END AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
        |    AS promo_revenue_pct,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
                col("l_shipdate") < lit("1997-07-01 00:00:00").cast("timestamp"))
      // part grows with sf: no forced broadcast (threshold + AQE decide).
      li.join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .agg(
          (lit(100.0) *
            expr("CAST(sum(CAST(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice*(1-l_discount) ELSE 0 END AS DECIMAL(28,6))) AS DOUBLE)") /
            dsum("l_extendedprice*(1-l_discount)")).as("promo_revenue_pct"),
          count(lit(1)).as("n_lines"))
    },

    // B45 — order-priority check (TPC-H Q4 shape, adapted: the synthetic
    // lineitem has no commit/receipt dates, so "late" = a line shipped
    // more than 60 days after the order date). The EXISTS compiles to a
    // LEFT SEMI join on orderkey — the fact table is probed once, no
    // row multiplication, and the count is per-order not per-line.
    QueryDef.sql("q4_priority_exists",
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // reduce-first over the SHARED staged order rollup: EXISTS(
      // l_shipdate > o_orderdate + 60d) depends only on max(l_shipdate)
      // per order, which StagedTables.orderMax materializes once (the
      // order-grain exchange lives in that disclosed build — no semi
      // join at all; the r11 remainder WAS that semi-join shuffle).
      // This query is then a 15M-row scan + a priority-sized rollup.
      StagedTables.orderMax(s, d)
        .filter(col("max_ship") > col("o_orderdate") + expr("INTERVAL 60 DAY"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },

    // B46 — returned-item reporting (TPC-H Q10 shape): who returned the
    // most revenue in a quarter. Fact chain filtered at the scan
    // (returnflag + date range pushed down), nation broadcast, top-20 via
    // TakeOrderedAndProject — the output is customer-sized only after
    // the limit, never before.
    QueryDef.sql("q10_returned_items",
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  c_acctbal + 0.0 AS c_acctbal, n_name
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |              JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
        |GROUP BY c_custkey, c_name, c_acctbal + 0.0, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, d) =>
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-07-01 00:00:00").cast("timestamp") &&
                col("o_orderdate") < lit("1996-10-01 00:00:00").cast("timestamp"))
      val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      Relational.topKByAgg(
        Tables.customer(s, d)
          .join(ord, col("c_custkey") === col("o_custkey"))
          .join(li, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          // c_acctbal + 0.0: sign-of-zero normalization on BOTH sides.
          // The sf10 sweep found the class (q_left_enrich): a raw -0.0
          // acctbal through a grouping/distinct key — Spark's aggregation
          // normalizes float keys to +0.0 (NormalizeFloatingNumbers),
          // DuckDB emits the raw bit image, and the driver hashes bytes.
          // Adding IEEE +0.0 maps -0.0 to +0.0 identically in both
          // engines and is the identity for every other value.
          .groupBy(col("c_custkey"), col("c_name"),
            (col("c_acctbal") + lit(0.0)).as("c_acctbal"), col("n_name"))
          .agg(dsum("l_extendedprice*(1-l_discount)").as("revenue"))
          .select(col("c_custkey"), col("c_name"), col("revenue"),
            col("c_acctbal"), col("n_name")),
        20, Seq(col("revenue").desc, col("c_custkey")))
    },

    // B47 — bidirectional nation trade by year (TPC-H Q7 shape): revenue
    // flowing between two nations, keyed (supplier nation, customer
    // nation, year). Two broadcast nation joins with a pushed disjunctive
    // pair filter; the year extraction is a projection, so the only wide
    // stages are the fact joins themselves.
    QueryDef.sql("q7_nation_trade",
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(o_orderdate) AS yr,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |              JOIN orders   ON o_orderkey = l_orderkey
        |              JOIN customer ON c_custkey = o_custkey
        |              JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |              JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
      Tables.supplier(s, d)
        .join(Tables.lineitem(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("nk1"))
        .join(broadcast(n2), col("c_nationkey") === col("nk2"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
                (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"), year(col("o_orderdate")).as("yr"))
        .agg(dsum("l_extendedprice*(1-l_discount)").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "yr")
    },

    // B48 — disjunctive-predicate join (TPC-H Q19 shape, brands drawn
    // from the synthetic alphabet): an OR-of-ANDs mixing both tables'
    // columns. The per-table conjuncts (brand/size on part, quantity on
    // lineitem) are inferred and PUSHED below the join by Catalyst
    // (CNF extraction), so each scan prunes before any shuffle — the
    // classic test that disjunctions don't defeat pushdown.
    QueryDef.sql("q19_disjunctive_pred",
      """SELECT count(*) AS n_lines,
        |  CAST(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin) { (s, d) =>
      val cond =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#15" && col("p_size").between(1, 35) && col("l_quantity").between(20, 30))
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("p_partkey") === col("l_partkey"))
        .filter(cond)
        .agg(count(lit(1)).as("n_lines"),
          dsum("l_extendedprice*(1-l_discount)").as("revenue"))
    },

    // B57 — association rules over the co-purchase pairs (the
    // market-basket classic: support / confidence / lift): distinct
    // (order, part) incidence once, per-order pair explosion (B51's
    // blocking — the join key IS the basket), then report-sized rule
    // arithmetic. Top-20 by lift with min-support 3 through
    // TakeOrderedAndProject; every ratio a single double expression
    // with identical operand order both engines.
    QueryDef.sql("q_basket_rules",
      """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |n AS (SELECT count(DISTINCT o) AS n_orders FROM po),
        |ps AS (SELECT p, count(*) AS cnt FROM po GROUP BY 1),
        |pp AS (SELECT a.p AS pa, b.p AS pb, count(*) AS cnt_ab
        |       FROM po a JOIN po b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
        |r AS (SELECT pa, pb, cnt_ab, sa.cnt AS cnt_a, sb.cnt AS cnt_b,
        |        CAST(cnt_ab AS DOUBLE) / sa.cnt AS conf_ab,
        |        CAST(cnt_ab AS DOUBLE) * n_orders / (sa.cnt * sb.cnt) AS lift
        |      FROM pp JOIN ps sa ON pa = sa.p JOIN ps sb ON pb = sb.p CROSS JOIN n
        |      WHERE cnt_ab >= 3)
        |SELECT pa, pb, cnt_ab, cnt_a, cnt_b, conf_ab, lift
        |FROM r ORDER BY lift DESC, pa, pb LIMIT 20""".stripMargin) { (s, d) =>
      // Both data-scale passes come from the shared staged tables
      // (StagedTables): the (order, part) incidence feeds the support
      // counts, and the pair explosion IS the co-purchase edge table
      // (w = orders sharing the pair) that B51/B64/B71 also read — the
      // r7-verdict sharing extended to the basket family. Only
      // report-sized rule arithmetic remains below.
      val po = StagedTables.incidence(s, d)
      val nOrders = broadcast(po.select(countDistinct("o").as("n_orders")))
      val ps = po.groupBy("p").agg(count(lit(1)).as("cnt"))
      val pp = StagedTables.coEdges(s, d)
        .filter(col("w") >= 3)
        .select(col("u").as("pa"), col("v").as("pb"), col("w").as("cnt_ab"))
      val rules = pp
        .join(ps.select(col("p").as("pa"), col("cnt").as("cnt_a")), "pa")
        .join(ps.select(col("p").as("pb"), col("cnt").as("cnt_b")), "pb")
        .crossJoin(nOrders)
        .select(col("pa"), col("pb"), col("cnt_ab"), col("cnt_a"), col("cnt_b"),
          (col("cnt_ab").cast("double") / col("cnt_a")).as("conf_ab"),
          (col("cnt_ab").cast("double") * col("n_orders") / (col("cnt_a") * col("cnt_b")))
            .as("lift"))
      Relational.topKByAgg(rules, 20, Seq(col("lift").desc, col("pa"), col("pb")))
    },

    // B4 — running total per key (window agg; cumulative decimal is exact
    // per-prefix so the double output is deterministic).
    QueryDef.sql("q_window_running",
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .withColumn("running_total",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "running_total")
        .orderBy("o_custkey", "o_orderkey")
    },

    // B5 — tumbling 1-day window over the event stream (batch equivalent of
    // the Structured Streaming path, SURVEY §2 F1).
    QueryDef.sql("q_events_tumbling",
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum("value", 18, 2).as("total_value"))
        .orderBy("day", "event_type")
    },

    // B90 — SLIDING (hopping) window aggregation (1 day window, 6 h
    // hop): the overlapping-window shape B5's tumbling can't express —
    // every event contributes to window/hop = 4 windows. Spark's
    // window(ts, w, hop) does the fan-out INSIDE the expression (no
    // explode in the plan); the oracle reproduces the epoch-aligned
    // window starts by integer hop arithmetic (epoch_ms // hop − k), so
    // both engines assign windows by exact integer division, no float
    // boundaries. Batch twin of the F1i streaming row (same oracle).
    QueryDef.sql("q_events_sliding", slidingOracleSql) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day", "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum("value", 18, 2).as("total_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_events"), col("total_value"))
        .orderBy("window_start", "event_type")
    },

    // B6 — gap-based sessionization (30 min) — see operators.Sessionize.
    QueryDef.sql("q_sessionize",
      """SELECT user_id, session_id, count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
        |FROM (
        |  SELECT user_id, ts,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                IS NULL THEN 1
        |           WHEN epoch_ms(ts) - lag(epoch_ms(ts))
        |                OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000 THEN 1
        |           ELSE 0 END AS is_new
        |    FROM events))
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
      Sessionize.byGap(Tables.events(s, d), "user_id", "ts", "event_id",
          gapMillis = 1800000L)
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"))
        .orderBy("user_id", "session_id")
    },

    // B7 — pivot with known value set (no extra distinct-scan job).
    QueryDef.sql("q_pivot",
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  count(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error'    THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view'     THEN 1 END) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      Relational.pivotCounts(Tables.events(s, d),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"), "day",
          "event_type", types)
        .na.fill(0, types)
        .orderBy("day")
    },

    // B8 — rollup subtotals; null grouping keys coalesced to 'ALL' so the
    // output sort never orders on nulls (Spark/DuckDB null order differs).
    QueryDef.sql("q_rollup",
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), dsum("o_totalprice", 18, 2).as("total_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("total_price"))
        .orderBy("status", "priority")
    },

    // B10 — top-k per group (training-data staple: best docs per domain,
    // latest events per user...). Window row_number + filter: one shuffle
    // on the group key, no global sort at any scale.
    QueryDef.sql("q_topk_per_group",
      """SELECT o_orderpriority, rnk, o_orderkey,
        |  CAST(o_totalprice AS DOUBLE) AS totalprice
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
          col("o_totalprice").cast("double").as("totalprice"))
        .orderBy("o_orderpriority", "rnk")
    },

    // B10d — top-k distinct VALUE TIERS per group (dense_rank <= k): keep
    // every line item in the 3 highest quantity tiers per return flag —
    // the "all rows of the best k classes" ask that row_number/rank can't
    // express (a tier's membership is unbounded). Plans through the B10n
    // native operator's dense mode: the partial heap advances per CLASS,
    // so the 47 losing tiers are pruned map-side and only top-tier rows
    // cross the wire; the gapless tier numbers come out of the final heap.
    // Tie-heavy by construction (integer quantities), so the dense path's
    // whole-class retention is what the hash gate certifies.
    QueryDef.sql("q_dense_topk",
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity,
        |         CAST(dense_rank() OVER (PARTITION BY l_returnflag
        |                                 ORDER BY l_quantity DESC) AS INT) AS tier
        |  FROM lineitem)
        |SELECT l_returnflag, tier, l_quantity AS qty,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM r WHERE tier <= 3
        |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_returnflag").orderBy(col("l_quantity").desc)
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_quantity")
        .withColumn("tier", dense_rank().over(w))
        .filter(col("tier") <= 3)
        .groupBy(col("l_returnflag"), col("tier"), col("l_quantity").as("qty"))
        .agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag", "tier")
    },

    // B10 scale path — the same top-3-per-group via the two-phase salted
    // operator. SAME oracle SQL as q_topk_per_group: top-k is mergeable,
    // so the two-phase plan must be row-identical to the single window —
    // and the hash gate proves it.
    QueryDef.sql("q_topk_per_group_2phase",
      """SELECT o_orderpriority, rnk, o_orderkey,
        |  CAST(o_totalprice AS DOUBLE) AS totalprice
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin) { (s, d) =>
      Relational.topKPerGroupTwoPhase(Tables.orders(s, d), "o_orderpriority", 3,
          Seq(col("o_totalprice").desc, col("o_orderkey")))
        .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
          col("o_totalprice").cast("double").as("totalprice"))
        .orderBy("o_orderpriority", "rnk")
    },

    // B12 — as-of join: every event annotated with the user's most recent
    // purchase value at-or-before it. Oracle = DuckDB's native ASOF JOIN;
    // Spark side = Relational.asofJoin (union + window carry, one shuffle).
    QueryDef.sql("q_asof_join",
      """WITH p AS (
        |  SELECT user_id, ts, purchase_value FROM (
        |    SELECT user_id, ts, value AS purchase_value,
        |           row_number() OVER (PARTITION BY user_id, ts
        |                              ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1)
        |SELECT e.event_id, e.user_id, e.event_type, p.purchase_value
        |FROM events e ASOF LEFT JOIN p
        |  ON e.user_id = p.user_id AND p.ts <= e.ts
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = Relational.dedupKeepFirst(
          ev.filter(col("event_type") === "purchase"),
          Seq("user_id", "ts"), Seq(col("event_id").desc))
        .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
      Relational.asofJoin(
          ev.select("event_id", "user_id", "ts", "event_type"),
          purchases, "user_id", "ts", Seq("purchase_value"))
        .select("event_id", "user_id", "event_type", "purchase_value")
        .orderBy("event_id")
    },

    // B13 — range join: clicks landing inside the hour after each purchase
    // by the same user. Spark side bins time so the join is an equi-join
    // on (user, bin); the oracle does the plain range join (fine at
    // oracle scale, quadratic at 100 TB — which is the point of binning).
    QueryDef.sql("q_range_join",
      """WITH p AS (SELECT event_id AS pid, user_id, ts AS start_ts,
        |                  ts + INTERVAL 1 HOUR AS end_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts AS c_ts, value FROM events
        |      WHERE event_type = 'click'),
        |j AS (SELECT pid, count(c_ts) AS n_clicks,
        |             coalesce(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 0.0)
        |               AS click_value
        |      FROM p LEFT JOIN c ON p.user_id = c.user_id
        |                        AND c.c_ts >= p.start_ts AND c.c_ts <= p.end_ts
        |      GROUP BY pid)
        |SELECT pid, n_clicks, click_value FROM j ORDER BY pid""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("end_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"), col("value"))
      val pairs = Relational.rangeJoinBinned(c, p, "user_id",
        "c_ts", "start_ts", "end_ts", binMillis = 3600000L)
      val agg = pairs.groupBy("pid").agg(
        count(lit(1)).as("n_clicks"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("click_value"))
      p.select("pid").join(agg, Seq("pid"), "left")
        .select(col("pid"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("click_value"), lit(0.0)).as("click_value"))
        .orderBy("pid")
    },

    // B14 — exact discrete percentiles per group (p50/p90 of order value by
    // priority). Discrete definition — the value at rank ceil(p·n) — so the
    // rank is pure integer math ((p_num·n + p_den−1) div p_den) and no
    // float interpolation can diverge between engines. One window pass.
    QueryDef.sql("q_percentiles",
      """SELECT o_orderpriority,
        |  max(CASE WHEN rn = (cnt + 1) // 2 THEN val END) AS p50,
        |  max(CASE WHEN rn = (9*cnt + 9) // 10 THEN val END) AS p90,
        |  max(cnt) AS n
        |FROM (
        |  SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS val,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS cnt
        |  FROM orders)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val ranked = Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_totalprice").cast("double").as("val"),
          row_number().over(w).as("rn"),
          count(lit(1)).over(Window.partitionBy("o_orderpriority")).as("cnt"))
      ranked.groupBy("o_orderpriority")
        .agg(
          max(when(col("rn") === expr("(cnt + 1) div 2"), col("val"))).as("p50"),
          max(when(col("rn") === expr("(9*cnt + 9) div 10"), col("val"))).as("p90"),
          max(col("cnt")).as("n"))
        .orderBy("o_orderpriority")
    },

    // B14x — approximate percentiles: the scale path for q_percentiles.
    // The exact operator's per-group rank window makes each group one
    // task — 5 priority groups = 5 straggler tasks at 100 TB.
    // percentile_approx is a mergeable quantile sketch: partial-aggregated
    // map-side like any sum, no per-group collection anywhere. Estimator
    // output ⇒ rows-only driver check; agreement with the exact discrete
    // percentiles is spec'd (PercentileSpec) at accuracy 10000.
    QueryDef.rowsOnly("q_approx_percentiles") { (s, d) =>
      val v = col("o_totalprice").cast("double")
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          percentile_approx(v, lit(0.5), lit(10000)).as("p50"),
          percentile_approx(v, lit(0.9), lit(10000)).as("p90"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // B18 — equal-width histogram (20 bins over [min, max]) of order
    // value: the distribution-audit staple next to A18's profile. Bin
    // edges come from a broadcast 1-row min/max aggregate; the bin index
    // is floor((v-mn)·20/(mx-mn)) with the max clamped into the last bin
    // — identical double arithmetic both engines, so bin boundaries can't
    // drift.
    QueryDef.sql("q_histogram",
      """SELECT CAST(least(floor((o_totalprice - mn) * 20.0 / (mx - mn)), 19) AS BIGINT) AS bin,
        |  count(*) AS n,
        |  CAST(min(o_totalprice) AS DOUBLE) AS lo,
        |  CAST(max(o_totalprice) AS DOUBLE) AS hi
        |FROM orders CROSS JOIN
        |  (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders) b
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val b = orders.agg(min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
      orders.crossJoin(broadcast(b))
        .select(least(floor((col("o_totalprice") - col("mn")) * 20.0 / (col("mx") - col("mn"))),
          lit(19)).cast("long").as("bin"), col("o_totalprice"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          min("o_totalprice").cast("double").as("lo"),
          max("o_totalprice").cast("double").as("hi"))
        .orderBy("bin")
    },

    // B70 — 2-D histogram (10×10 density grid over quantity × price):
    // the joint-distribution view B18 can't give (and the binned input
    // B67's Mahalanobis flags outliers AGAINST — heatmap + outlier
    // score read together). Identical B18 bin arithmetic per axis over
    // one broadcast bounds row; one narrow projection + one ≤100-key
    // partial agg; exact DECIMAL per-cell price mass rides along.
    QueryDef.sql("q_histogram2d",
      """WITH b AS (SELECT min(l_quantity) AS qmn, max(l_quantity) AS qmx,
        |             min(l_extendedprice) AS pmn, max(l_extendedprice) AS pmx
        |           FROM lineitem)
        |SELECT
        |  CAST(least(floor((l_quantity - qmn) * 10.0 / (qmx - qmn)), 9) AS BIGINT) AS qbin,
        |  CAST(least(floor((l_extendedprice - pmn) * 10.0 / (pmx - pmn)), 9) AS BIGINT) AS pbin,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_mass
        |FROM lineitem CROSS JOIN b
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val b = li.agg(min("l_quantity").as("qmn"), max("l_quantity").as("qmx"),
        min("l_extendedprice").as("pmn"), max("l_extendedprice").as("pmx"))
      li.crossJoin(broadcast(b))
        .select(
          least(floor((col("l_quantity") - col("qmn")) * 10.0 /
            (col("qmx") - col("qmn"))), lit(9)).cast("long").as("qbin"),
          least(floor((col("l_extendedprice") - col("pmn")) * 10.0 /
            (col("pmx") - col("pmn"))), lit(9)).cast("long").as("pbin"),
          col("l_extendedprice"))
        .groupBy("qbin", "pbin")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("price_mass"))
        .orderBy("qbin", "pbin")
    },

    // B19 — Pearson correlation per group, computed from EXACT decimal
    // co-moment sums (order-independent) with the double arithmetic
    // confined to the final closed form — both engines then execute the
    // IDENTICAL IEEE expression on identical operands, so the result is
    // bit-equal despite the cancellation in n·Σxy − Σx·Σy. (The built-in
    // corr() is NOT used: its streaming co-moment update is
    // order-dependent and algorithm-specific per engine.)
    QueryDef.sql("q_corr",
      """SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) /
        |    sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) * CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)) AS corr
        |FROM (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
        |  FROM lineitem GROUP BY 1)
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val x = col("l_quantity").cast("decimal(18,2)")
      val y = col("l_extendedprice").cast("decimal(18,2)")
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
          sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
        .select(col("l_returnflag"), col("n").cast("long").as("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))).as("corr"))
        .orderBy("l_returnflag")
    },

    // B20 — per-group min-max feature scaling (the ML-prep normalizer):
    // every order's value mapped to [0,1] within its priority group.
    // Scale shape: the 5-row stats aggregate BROADCASTS back onto the
    // fact table — NOT a per-group window, which would funnel each group
    // through one partition at 100 TB (the same trap q_percentiles'
    // scale twin documents).
    QueryDef.sql("q_minmax_scale",
      """SELECT o_orderkey, o_orderpriority,
        |  CAST((o_totalprice - mn) / (mx - mn) AS DOUBLE) AS scaled
        |FROM orders JOIN (
        |  SELECT o_orderpriority, min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |  FROM orders GROUP BY 1) s USING (o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val stats = orders.groupBy("o_orderpriority")
        .agg(min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
      orders.join(broadcast(stats), "o_orderpriority")
        .select(col("o_orderkey"), col("o_orderpriority"),
          ((col("o_totalprice") - col("mn")) / (col("mx") - col("mn")))
            .cast("double").as("scaled"))
        .orderBy("o_orderkey")
    },

    // B15 — CUBE: all grouping-set combinations (B8's rollup sibling).
    QueryDef.sql("q_cube",
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n_orders
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"))
        .orderBy("status", "priority")
    },

    // B15x — explicit GROUPING SETS (the general form under B8's ROLLUP
    // and B15's CUBE): per-status and per-priority marginals in one
    // pass — Spark expands to a single Expand + one aggregation, not
    // two scans.
    QueryDef.sql("q_grouping_sets",
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n_orders
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      o.createOrReplaceTempView("graft_gs_orders")
      o.sparkSession.sql(
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |  coalesce(o_orderpriority, 'ALL') AS priority,
          |  count(*) AS n_orders
          |FROM graft_gs_orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
          |ORDER BY status, priority""".stripMargin)
    },

    // B16 — set operations: customers with orders but no high-priority
    // ones (EXCEPT), and with both statuses (INTERSECT).
    QueryDef.sql("q_set_ops",
      """SELECT 'except' AS op, o_custkey FROM (
        |  SELECT o_custkey FROM orders
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |UNION ALL
        |SELECT 'intersect' AS op, o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |ORDER BY op, o_custkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val exc = o.select("o_custkey")
        .except(o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"))
        .select(lit("except").as("op"), col("o_custkey"))
      val inter = o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
        .select(lit("intersect").as("op"), col("o_custkey"))
      exc.unionAll(inter).orderBy("op", "o_custkey")
    },

    // B17 — semi/anti joins: customers WITH urgent orders (semi) and
    // customers with NO orders at all (anti). Both plan as one-sided
    // joins — no fan-out, the probe side never duplicates.
    QueryDef.sql("q_semi_anti_join",
      """SELECT 'semi' AS op, c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')
        |UNION ALL
        |SELECT 'anti' AS op, c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY op, c_custkey""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val semi = c.join(o.filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(lit("semi").as("op"), col("c_custkey"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(lit("anti").as("op"), col("c_custkey"))
      semi.unionAll(anti).orderBy("op", "c_custkey")
    },

    // B33 — Bloom-pruned semi-join: lineitem ⋉ urgent orders, with the
    // fact scan pre-filtered by a Bloom of the selective key side so the
    // fact-side Exchange carries ~matches instead of ~everything (the
    // 100 TB shape — see operators.Prune). Bloom filters admit false
    // positives only and the trailing exact join removes them, so the
    // result — and therefore the oracle — is the PLAIN semi-join's.
    QueryDef.sql("q_bloom_prune",
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey
        |                AND o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      import graft.operators.Prune
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
      Prune.bloomPrunedSemiJoin(Tables.lineitem(s, d), "l_orderkey",
          urgent, "o_orderkey", expectedKeys = 1000000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum("l_quantity", 18, 2).as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // B9 — JSON property extraction from the event payload column.
    QueryDef.sql("q_json_extract",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")
    },

    // B118 — 2-D SKYLINE (Pareto frontier): orders not dominated on
    // (order date, price) — "the best trade-offs", the multi-objective
    // top-k no single ORDER BY can express. The naive form is an O(n²)
    // NOT EXISTS self-join; the Spark-first plan is the sweep-line
    // equivalence: reduce to the DATE-DIM rollup (max price per day),
    // take the suffix-max over that dim-sized series (one dim window,
    // never a window over the fact table), then one broadcast join back —
    // a fact row survives iff no strictly-later day reaches its price and
    // its own day's max doesn't exceed it. Facts scan once; the O(n²)
    // pair space is never materialized. Integer cents end to end.
    QueryDef.sql("q_skyline",
      """WITH f AS (
        |  SELECT o_orderkey,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_idx,
        |    CAST(o_orderdate AS DATE) AS day,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders),
        |dm AS (SELECT day_idx, max(pc) AS day_max FROM f GROUP BY 1),
        |sx AS (
        |  SELECT day_idx, day_max,
        |    max(day_max) OVER (ORDER BY day_idx
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS later_max
        |  FROM dm)
        |SELECT f.o_orderkey, strftime(f.day,'%Y-%m-%d') AS day,
        |  CAST(f.pc AS DOUBLE) / 100.0 AS price
        |FROM f JOIN sx USING (day_idx)
        |WHERE coalesce(sx.later_max, -1) < f.pc AND sx.day_max <= f.pc
        |ORDER BY day, o_orderkey""".stripMargin) { (s, d) =>
      val f = Tables.orders(s, d).select(col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date")).as("day_idx"),
        to_date(col("o_orderdate")).as("day"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("pc"))
      import org.apache.spark.sql.expressions.Window
      val dm = f.groupBy("day_idx").agg(max("pc").as("day_max"))
      val sx = dm.withColumn("later_max",
        max("day_max").over(Window.orderBy("day_idx")
          .rowsBetween(1, Window.unboundedFollowing)))
      f.join(broadcast(sx), Seq("day_idx"))
        .filter(coalesce(col("later_max"), lit(-1L)) < col("pc") &&
          col("day_max") <= col("pc"))
        .selectExpr("o_orderkey", "date_format(day,'yyyy-MM-dd') AS day",
          "CAST(pc AS DOUBLE) / 100.0 AS price")
        // skyline-sized output: orderBy's range-sampling pass would
        // re-execute the scan+broadcast-join stage once just to pick
        // split points for a few hundred rows — single-partition sort
        // gives the same total order for one execution (the
        // q_double_charge precedent).
        .repartition(1).sortWithinPartitions("day", "o_orderkey")
    },

    // B125 — repeat-charge audit: same customer, same $100 amount
    // bucket, DIFFERENT order — the fin-ops double-charge sweep (A4
    // dedups exact key duplicates; this finds the suspicious
    // near-duplicates exact dedup is blind to). The self-join is an
    // EQUI-join on (custkey, bucket) — the composite key bounds the
    // pair space per key, never O(n²); pairs oriented a < b report each
    // incident once, with the day gap in the output so the reviewer
    // sees recency. Integer cents and day arithmetic end to end.
    // (Bucket width is policy: cent-exact within 7 days is the
    // production default; this corpus's uniform synthetic prices only
    // collide at the $100 grain, so that is what the gate exercises.)
    QueryDef.sql("q_double_charge",
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) // 10000 AS bucket,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_idx
        |  FROM orders)
        |SELECT a.o_custkey AS custkey,
        |  a.o_orderkey AS order_a, b.o_orderkey AS order_b,
        |  CAST(a.bucket * 100 AS BIGINT) AS amount_bucket,
        |  b.day_idx - a.day_idx AS days_apart
        |FROM o a JOIN o b
        |  ON a.o_custkey = b.o_custkey AND a.bucket = b.bucket
        | AND a.o_orderkey < b.o_orderkey
        |ORDER BY custkey, order_a, order_b""".stripMargin) { (s, d) =>
      // Collision-keys-first (r11 paid the orders self-join = the whole
      // fact scanned AND shuffled twice; a one-shuffle collect-per-group
      // variant measured WORSE at sf10 — 11 s — because it materializes
      // a fact-count of tiny arrays to keep a handful): double charges
      // are anomalies, so the keys with >= 2 orders are a tiny fraction.
      // Pass 1 is a NARROW count shuffle (key + count only, map-side
      // combinable); the collision keys semi-join back (broadcast under
      // the 64 MB+AQE rule — anomaly-sized) and ONLY the surviving rows
      // pay the group-and-pair assembly, with the (orderkey, day) pair
      // packed into one long (day 1970-index fits 16 bits until 2149)
      // so sorting the packed array IS the a<b emission order. At 100 TB:
      // one narrow fact shuffle + one broadcast filter, and the pair
      // build touches collision rows only.
      val o = Tables.orders(s, d).selectExpr("o_orderkey", "o_custkey",
        "CAST(round(o_totalprice * 100) AS BIGINT) DIV 10000 AS bucket",
        // The 16-bit packing below is only sound for day_idx in
        // [0, 65536) — dates 1970..2149. An out-of-range date would
        // silently corrupt the decoded orderkey/days_apart, so the
        // domain assumption fails LOUDLY instead (raise_error), the
        // same contract the landing-file guard follows.
        """CASE WHEN datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')
          |          BETWEEN 0 AND 65535
          |     THEN datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')
          |     ELSE raise_error(concat('q_double_charge: o_orderdate ',
          |            CAST(o_orderdate AS STRING),
          |            ' outside the 1970..2149 16-bit packing domain'))
          |END AS day_idx""".stripMargin)
      val dupKeys = o.groupBy("o_custkey", "bucket")
        .agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .select("o_custkey", "bucket")
      o.join(dupKeys, Seq("o_custkey", "bucket"), "left_semi")
        .groupBy(col("o_custkey").as("custkey"), col("bucket"))
        .agg(sort_array(collect_list(
          shiftleft(col("o_orderkey"), 16).bitwiseOR(col("day_idx")))).as("os"))
        .select(col("custkey"), col("bucket"),
          posexplode(col("os")).as(Seq("pos", "a")), col("os"))
        .select(col("custkey"), col("bucket"), col("a"),
          explode(expr("slice(os, pos + 2, size(os))")).as("b"))
        .select(col("custkey"),
          shiftright(col("a"), 16).as("order_a"),
          shiftright(col("b"), 16).as("order_b"),
          (col("bucket") * 100).cast("long").as("amount_bucket"),
          (col("b").bitwiseAND(lit(0xffffL)) - col("a").bitwiseAND(lit(0xffffL)))
            .as("days_apart"))
        // anomaly-sized output: a single-partition sort gives the same
        // total order WITHOUT orderBy's range-sampling pass, which would
        // re-execute the whole upstream once just to pick split points
        .repartition(1).sortWithinPartitions("custkey", "order_a", "order_b")
    },

    // B126 — ABC inventory classification: parts ranked by revenue,
    // bucketed A (first 80% of cumulative revenue), B (to 95%), C
    // (rest) — the warehouse-policy operator behind B66's Pareto curve
    // (the curve describes concentration; ABC turns it into a
    // three-way policy decision). One part-keyed partial agg (the only
    // data-scale stage), an exact-decimal cumulative window over the
    // part-dim rollup under a TOTAL order (revenue DESC, partkey), the
    // class boundaries evaluated on exact cent integers — no double
    // compare decides a class. Output is the 3-row policy summary.
    QueryDef.sql("q_abc_class",
      """WITH p AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(rev) AS BIGINT) AS total FROM p),
        |c AS (
        |  SELECT l_partkey, rev,
        |    CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM p),
        |cls AS (
        |  SELECT l_partkey, rev,
        |    CASE WHEN cum * 100 <= total * 80 THEN 'A'
        |         WHEN cum * 100 <= total * 95 THEN 'B'
        |         ELSE 'C' END AS abc
        |  FROM c CROSS JOIN t)
        |SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(CAST(sum(rev) AS BIGINT) AS DOUBLE) / 100.0 AS revenue,
        |  CAST(CAST(sum(rev) AS BIGINT) AS DOUBLE) / (SELECT total FROM t) AS rev_share
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val p = Tables.lineitem(s, d)
        .groupBy("l_partkey")
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .cast("long").as("rev"))
      val t = p.agg(sum("rev").cast("long").as("total"))
      val cumW = Window.orderBy(col("rev").desc, col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      p.withColumn("cum", sum("rev").over(cumW).cast("long"))
        .crossJoin(broadcast(t))
        .selectExpr("l_partkey", "rev",
          """CASE WHEN cum * 100 <= total * 80 THEN 'A'
            |     WHEN cum * 100 <= total * 95 THEN 'B'
            |     ELSE 'C' END AS abc""".stripMargin, "total")
        .groupBy("abc")
        .agg(count(lit(1)).cast("long").as("n_parts"),
          (sum("rev").cast("long").cast("double") / 100.0).as("revenue"),
          (sum("rev").cast("long").cast("double") / first("total")).as("rev_share"))
        .orderBy("abc")
    },

    // B127 — reorder rate per part: the share of (customer, part)
    // relationships with a SECOND purchase — the repeat-demand signal
    // behind B57's basket rules and B52's cohort LTV. The stream
    // reduces to the distinct (customer, part, order) incidence once,
    // then per-(customer, part) order counts; the per-part rate is
    // exact integers + one division, and only parts with ≥ 20 buyers
    // report (small-n rates are noise). Top-20 under total order.
    QueryDef.sql("q_reorder_rate",
      """WITH cpo AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p, l_orderkey AS o
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |cp AS (SELECT c, p, CAST(count(*) AS BIGINT) AS n_orders FROM cpo GROUP BY 1, 2),
        |pr AS (
        |  SELECT p AS partkey, CAST(count(*) AS BIGINT) AS n_buyers,
        |    CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat
        |  FROM cp GROUP BY 1)
        |SELECT partkey, n_buyers, n_repeat,
        |  CAST(n_repeat AS DOUBLE) / n_buyers AS reorder_rate
        |FROM pr WHERE n_buyers >= 20
        |ORDER BY reorder_rate DESC, partkey LIMIT 20""".stripMargin) { (s, d) =>
      // incidence off the staged shared fact (StagedTables.orderLines):
      // the join ran once, this is a 3-column pruned scan. ONE fact
      // shuffle for the ENTIRE query, keyed on p ALONE (r16; the r12
      // shape keyed it (c, p)): every grouping in the chain — the
      // (c,p,o) distinct, the per-(c,p) order count, and the final
      // part-grain rollup — contains p, so hash-partitioning on p
      // satisfies all three and they fuse into one shuffle-free stage.
      // The (c,p) keying satisfied only the first two: the part rollup's
      // map-side partial agg then emitted ~parts×partitions rows (64M at
      // sf10, a 320 MB second shuffle + an extra merge stage — the r16
      // profile's 3.03× residual). Keys per partition stay uniform
      // (parts are unskewed), and the numbered repartition pins fan-out
      // at cluster parallelism (AQE-coalesce-exempt).
      val fan = s.sparkContext.defaultParallelism
      val cpo = StagedTables.orderLines(s, d)
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"),
          col("l_orderkey").as("o"))
        .repartition(fan, col("p"))
        .distinct()
      val cp = cpo.groupBy("c", "p").agg(count(lit(1)).cast("long").as("n_orders"))
      val pr = cp.groupBy(col("p").as("partkey"))
        .agg(count(lit(1)).cast("long").as("n_buyers"),
          sum(when(col("n_orders") >= 2, 1).otherwise(0)).cast("long").as("n_repeat"))
      graft.operators.Relational.topKByAgg(
        pr.filter(col("n_buyers") >= 20)
          .withColumn("reorder_rate",
            col("n_repeat").cast("double") / col("n_buyers")),
        20, Seq(col("reorder_rate").desc, col("partkey")))
    }
  )

  /** B90/F1i shared oracle: epoch-aligned 1-day windows hopping every
    * 6 h, each event fanned to its 4 covering windows by integer hop
    * arithmetic. */
  private[queries] def slidingOracleSql: String =
    """SELECT strftime(make_timestamp(((epoch_ms(ts)//21600000 - g.k)*21600000)*1000),
      |         '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events CROSS JOIN unnest(range(0, 4)) AS g(k)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
