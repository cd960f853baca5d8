package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** SURVEY §2 group B (B72-B83) — the remaining classic TPC-H query shapes,
  * adapted to this schema (no partsupp/shipmode/commitdate; the lineitem
  * (partkey, suppkey) incidence stands in for partsupp, l_linestatus for
  * shipmode). Together with B1/B2/B3/B11/B45-B48 this completes the
  * TPC-H-shape family: every classic plan pattern — correlated scalar
  * subquery, double aggregation, scalar-max selection, anti-join against a
  * scalar threshold, HAVING vs a global total — is surfaced through the
  * driver's hash gate.
  *
  * Reference tie-in: the reference's flagship query (airflow.py:655-662)
  * is a join+group+top-k; these are the canonical hard variants of that
  * same shape class a production engine must plan well.
  *
  * Determinism rules (SURVEY §4): money sums go through DECIMAL casts and
  * only the final output is DOUBLE; every sum(CASE...) is CAST to BIGINT
  * in the oracle (DuckDB types them HUGEINT otherwise — the round-1/-7
  * driver-hash defect class); every query ends in a total ORDER BY.
  */
object TpchQueries {
  import AnalyticsQueries.dsum

  val all: Seq[QueryDef] = Seq(

    // B72 — TPC-H Q2 shape: min-value supplier per part (correlated min
    // subquery → window min). Scale shape: the selective part filter
    // BROADCASTS into lineitem BEFORE the distinct, so the incidence
    // shuffle carries only matching rows; the window partitions by
    // p_partkey (many groups — no straggler).
    QueryDef.sql("q2_min_supplier",
      """WITH inc AS (
        |  SELECT DISTINCT p_partkey, p_name, l_suppkey
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20),
        |j AS (
        |  SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |         min(s_acctbal) OVER (PARTITION BY p_partkey) AS min_bal
        |  FROM inc JOIN supplier ON s_suppkey = l_suppkey
        |           JOIN nation ON n_nationkey = s_nationkey)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        |FROM j WHERE s_acctbal = min_bal
        |ORDER BY s_acctbal DESC, s_name, p_partkey""".stripMargin) { (s, d) =>
      val parts = Tables.part(s, d)
        .filter(col("p_type") === "STANDARD" && col("p_size").between(10, 20))
        .select("p_partkey", "p_name")
      val inc = Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
        .join(broadcast(parts), col("p_partkey") === col("l_partkey"))
        .select("p_partkey", "p_name", "l_suppkey").distinct()
      val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
      val j = inc
        .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(nat), col("n_nationkey") === col("s_nationkey"))
      j.withColumn("min_bal", min("s_acctbal").over(Window.partitionBy("p_partkey")))
        .filter(col("s_acctbal") === col("min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
    },

    // B73 — TPC-H Q6: pure scan-side aggregate. All three predicates and
    // the two-column projection must reach the parquet scan
    // (PushedFilters/ReadSchema — plan-spec'd); zero joins, one partial
    // agg, one row out.
    QueryDef.sql("q6_revenue_delta",
      """SELECT
        |  CAST(CAST(sum(CAST(l_extendedprice*l_discount AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_discount").between(0.04, 0.06) && col("l_quantity") < 24)
        .agg(dsum("l_extendedprice*l_discount").as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    // B74 — TPC-H Q8 shape: market share of one supplier nation inside
    // one customer region, by order year. Both nation joins and the
    // region join are broadcast; the conditional/total revenue pair is
    // ONE aggregation (no second pass); share = exact decimal sums
    // divided once in double.
    QueryDef.sql("q8_market_share",
      """SELECT year(o_orderdate) AS yr,
        |  CAST(CAST(sum(CAST(CASE WHEN n2.n_name = 'NATION_2'
        |        THEN l_extendedprice*(1-l_discount) ELSE 0 END AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
        |  / CAST(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
        |    AS mkt_share
        |FROM lineitem JOIN orders   ON o_orderkey = l_orderkey
        |              JOIN customer ON c_custkey = o_custkey
        |              JOIN nation n1 ON n1.n_nationkey = c_nationkey
        |              JOIN region   ON r_regionkey = n1.n_regionkey
        |              JOIN supplier ON s_suppkey = l_suppkey
        |              JOIN nation n2 ON n2.n_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val custNat = Tables.nation(s, d)
        .join(Tables.region(s, d), col("r_regionkey") === col("n_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("n_nationkey").as("cnk"))
      val suppNat = Tables.nation(s, d)
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp")),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(custNat), col("cnk") === col("c_nationkey"))
        .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(suppNat), col("snk") === col("s_nationkey"))
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg((dsum("CASE WHEN supp_nation = 'NATION_2' THEN l_extendedprice*(1-l_discount) ELSE 0 END") /
          dsum("l_extendedprice*(1-l_discount)")).as("mkt_share"))
        .orderBy("yr")
    },

    // B75 — TPC-H Q9 shape: product-family profit by supplier nation and
    // year. No partsupp ⇒ cost analog is 10% of retail value
    // (p_retailprice*l_quantity*0.1), computed with identical operand
    // order both engines, then ONE decimal cast before the sum.
    QueryDef.sql("q9_product_profit",
      """SELECT n_name AS nation, year(o_orderdate) AS yr,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) - p_retailprice*l_quantity*0.1
        |       AS DECIMAL(28,6))) AS DOUBLE) AS profit
        |FROM lineitem JOIN part     ON p_partkey = l_partkey
        |              JOIN supplier ON s_suppkey = l_suppkey
        |              JOIN orders   ON o_orderkey = l_orderkey
        |              JOIN nation   ON n_nationkey = s_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin) { (s, d) =>
      val parts = Tables.part(s, d).filter(col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
      val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
      Tables.lineitem(s, d)
        .join(broadcast(parts), col("p_partkey") === col("l_partkey"))
        .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(nat), col("n_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("yr"))
        .agg(dsum("l_extendedprice*(1-l_discount) - p_retailprice*l_quantity*0.1").as("profit"))
        .orderBy(col("nation"), col("yr").desc)
    },

    // B76 — TPC-H Q11 shape: parts whose value (through one region's
    // suppliers) exceeds a FRACTION of the total — the threshold is
    // scale-free (a share, not an absolute), so the query means the same
    // thing at 100 TB. The value table aggregates once; the scalar total
    // re-aggregates the part-sized value table (not the fact table) and
    // broadcasts back as a 1-row cross join.
    QueryDef.sql("q11_part_value_share",
      """WITH v AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS value
        |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |                JOIN nation ON n_nationkey = s_nationkey
        |                JOIN region ON r_regionkey = n_regionkey
        |  WHERE r_name = 'EUROPE'
        |  GROUP BY 1)
        |SELECT l_partkey, value FROM v
        |WHERE value > (SELECT sum(value)*0.001 FROM v)
        |ORDER BY value DESC, l_partkey""".stripMargin) { (s, d) =>
      val nat = Tables.nation(s, d)
        .join(Tables.region(s, d), col("r_regionkey") === col("n_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select("n_nationkey")
      val v = Tables.lineitem(s, d)
        .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(nat), col("n_nationkey") === col("s_nationkey"))
        .groupBy("l_partkey")
        .agg(dsum("l_extendedprice*(1-l_discount)").as("value"))
      val total = v.agg(sum(col("value")).as("tot"))
      v.crossJoin(broadcast(total))
        .filter(col("value") > col("tot") * 0.001)
        .select("l_partkey", "value")
        .orderBy(col("value").desc, col("l_partkey"))
    },

    // B77 — TPC-H Q12 shape (l_linestatus stands in for shipmode):
    // priority-class line counts per status over a one-year ship window.
    // Both CASE sums are BIGINT-cast in the oracle (the HUGEINT trap).
    QueryDef.sql("q12_priority_class",
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus")
    },

    // B78 — TPC-H Q13: customer order-count distribution — the classic
    // DOUBLE aggregation (left join → per-customer count → count of
    // counts). The priority filter lives in the JOIN CONDITION, so
    // customers whose orders all miss it still appear with c_count=0.
    QueryDef.sql("q13_order_count_dist",
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") =!= "5-LOW"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // B79 — TPC-H Q15: top supplier by quarterly revenue — scalar-max
    // selection. The revenue table aggregates once and is reused for
    // both the max (1-row broadcast) and the equality probe; double
    // equality is safe because BOTH sides are the same decimal-sum-cast
    // value computed once per engine.
    QueryDef.sql("q15_top_supplier",
      """WITH r AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN r ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM r)
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val r = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01 00:00:00").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(dsum("l_extendedprice*(1-l_discount)").as("total_revenue"))
      val mx = r.agg(max(col("total_revenue")).as("mx"))
      Tables.supplier(s, d)
        .join(r, col("s_suppkey") === col("l_suppkey"))
        .crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    },

    // B80 — TPC-H Q16 shape: supplier variety per (brand, type, size)
    // over the lineitem incidence (partsupp analog). count(DISTINCT
    // suppkey) per group — Spark plans the distinct via Expand +
    // two-phase agg; the NOT-filters prune at the part scan.
    QueryDef.sql("q16_supplier_variety",
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
        |  AND p_size IN (1,9,14,19,23,36,45,49)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin) { (s, d) =>
      val parts = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
        .join(broadcast(parts), col("p_partkey") === col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },

    // B81 — TPC-H Q17: small-quantity revenue vs a per-part average —
    // the correlated scalar subquery, decorrelated into a part-sized
    // aggregate joined back onto the fact (AQE broadcasts it while it
    // fits; at 100 TB it degrades to a shuffled join, never a replan).
    QueryDef.sql("q17_small_qty_revenue",
      """WITH a AS (
        |  SELECT l_partkey AS pk,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)/7.0 AS avg_yearly,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |              JOIN a ON pk = l_partkey
        |WHERE p_brand = 'Brand#23' AND l_quantity < 0.2*avg_qty""".stripMargin) { (s, d) =>
      val avgQty = Tables.lineitem(s, d).groupBy(col("l_partkey").as("pk"))
        .agg((dsum("l_quantity", 18, 2) / count(lit(1))).as("avg_qty"))
      val parts = Tables.part(s, d).filter(col("p_brand") === "Brand#23")
        .select("p_partkey")
      Tables.lineitem(s, d)
        .join(broadcast(parts), col("p_partkey") === col("l_partkey"))
        .join(avgQty, col("pk") === col("l_partkey"))
        .filter(col("l_quantity") < col("avg_qty") * 0.2)
        .agg((dsum("l_extendedprice") / 7.0).as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    },

    // B82 — TPC-H Q18: large-volume orders — HAVING on a fact-side
    // aggregate, semi-joined back. The quantity aggregate is computed
    // ONCE and reused as both the filter and the output column (no
    // second lineitem pass); top-100 via TakeOrderedAndProject.
    QueryDef.sql("q18_big_orders",
      """SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_totalprice,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1, 2, 3, 4, 5
        |HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
      val big = Tables.lineitem(s, d).groupBy("l_orderkey")
        .agg(dsum("l_quantity", 18, 2).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      Tables.orders(s, d)
        .join(big, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },

    // B83 — TPC-H Q22 shape: above-average-balance customers with no
    // urgent orders — scalar-subquery threshold (1-row broadcast) +
    // anti-join. The average divides two exact aggregates in double,
    // identically in both engines.
    QueryDef.sql("q22_idle_rich",
      """WITH ab AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer, ab
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val ab = Tables.customer(s, d).filter(col("c_acctbal") > 0)
        .agg((dsum("c_acctbal", 18, 2) / count(lit(1))).as("avg_bal"))
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      Tables.customer(s, d)
        .crossJoin(broadcast(ab))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(urgent, col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"), dsum("c_acctbal", 18, 2).as("totacctbal"))
        .orderBy("c_nationkey")
    },

    // B92 — TPC-H Q20 shape: suppliers holding an outsized share of a
    // part's flow (correlated-aggregate threshold → aggregate twice +
    // join back, then a semi-join chain up to the supplier dim). The
    // partsupp stand-in is the 1996 (part, supplier) shipped-quantity
    // incidence over name-filtered parts; a supplier qualifies when its
    // share of some part exceeds half that part's total. The share test
    // is `qty*2 > total` — BOTH sides stay exact DECIMAL (a 0.5 literal
    // would promote the comparison to binary double in one engine and
    // decimal in the other). Scale shape: the selective part filter
    // broadcasts into lineitem BEFORE the first aggregate, sq/pt are
    // incidence-/part-sized (lineitem never re-scanned), and the final
    // joins against supplier/nation are dim-sized.
    QueryDef.sql("q20_excess_share",
      """WITH sq AS (
        |  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE 'red%'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, sum(qty) AS total FROM sq GROUP BY 1),
        |qual AS (SELECT DISTINCT l_suppkey
        |         FROM sq JOIN pt USING (l_partkey) WHERE qty*2 > total)
        |SELECT s_name, n_name, s_acctbal
        |FROM supplier JOIN qual ON l_suppkey = s_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |ORDER BY s_name""".stripMargin) { (s, d) =>
      val parts = Tables.part(s, d)
        .filter(col("p_name").startsWith("red")).select("p_partkey")
      val sq = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(broadcast(parts), col("p_partkey") === col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
      // per-part total as a WINDOW over the incidence, not a second
      // aggregate joined back: the join-back form re-executed the whole
      // lineitem scan+agg once per consumer (r16 profile: 2 x 6M-row
      // scan stages = half the query's wall at sf1); the window costs
      // one incidence-sized exchange instead
      val qual = sq.withColumn("total",
          sum("qty").over(org.apache.spark.sql.expressions.Window
            .partitionBy("l_partkey")))
        .filter(col("qty") * 2 > col("total"))
        .select("l_suppkey").distinct()
      // (a broadcast-semi variant was measured WORSE here — the
      // broadcast subtree blocks as its own job and serializes the
      // pipeline; the shuffled distinct+join overlaps with the scan)
      Tables.supplier(s, d)
        .join(qual, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("s_nationkey"))
        .select("s_name", "n_name", "s_acctbal")
        .orderBy("s_name")
    },

    // B93 — TPC-H Q21 shape: the sole-blocking-supplier query — a self
    // SEMI-join and a self ANTI-join over the same fact with different
    // predicates (was another supplier in the order at all? was another
    // supplier ALSO late?). Lateness proxy for this schema (no
    // receipt/commit dates): shipped >180 days after the order date, on
    // finished ('F') orders. Scale shape: both self-joins are equi-joins
    // on l_orderkey with a residual supplier inequality — shuffle on the
    // order key, per-order fan-out bounded by lines-per-order; supplier
    // is a broadcast dim; top-100 is TakeOrderedAndProject.
    QueryDef.sql("q21_waiting_supplier",
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 180 DAY),
        |blk AS (
        |  SELECT l_orderkey, l_suppkey FROM late l1
        |  WHERE EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey
        |                  AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM late l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey
        |                      AND l3.l_suppkey <> l1.l_suppkey))
        |SELECT s_name, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS numwait
        |FROM blk JOIN supplier ON s_suppkey = l_suppkey
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin) { (s, d) =>
      // r16: the EXISTS / NOT EXISTS pair is per-order set algebra —
      // "another supplier exists" ⟺ the order's distinct-supplier count
      // ≥ 2, and "no OTHER late supplier" ⟺ the order's distinct LATE
      // suppliers == 1 (that one supplier is then the blocked one). The
      // r15 semi+anti form shuffled the full fact twice and fanned it
      // through two order-keyed joins (sf10 stage profile: 1.0 GB + 0.76
      // GB shuffle writes, 2.96 GB join-stage read, 590 CPU-s); the
      // aggregate-first form shuffles map-side-collapsed distinct
      // (order, supplier) pairs once per side and joins two order-grain
      // rollups that share the same partitioning. numwait over
      // order-grain rows (count per supplier) equals the old
      // count(DISTINCT l_orderkey) exactly.
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      val fOrders = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F").select("o_orderkey", "o_orderdate")
      val late = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(fOrders, col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 180 DAY"))
        .select("l_orderkey", "l_suppkey")
      val ds = li.groupBy("l_orderkey")
        .agg(count_distinct(col("l_suppkey")).as("ds"))
      val la = late.groupBy("l_orderkey")
        .agg(count_distinct(col("l_suppkey")).as("dls"),
          max(col("l_suppkey")).as("l_suppkey"))
      val blk = la.join(ds, "l_orderkey")
        .filter(col("dls") === 1 && col("ds") >= 2)
      graft.operators.Relational.topKByAgg(
        blk.join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
            col("s_suppkey") === col("l_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait")),
        100, Seq(col("numwait").desc, col("s_name")))
    }
  )
}
