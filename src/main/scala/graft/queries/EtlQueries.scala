package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Profiling, Relational}
import graft.sources.Tables

/** SURVEY §2 group A — the reference's ETL transforms re-expressed
  * Spark-first on the analog star schema (schedule→orders,
  * permit→customer; see SURVEY §1 data-model mapping).
  */
object EtlQueries {

  /** Stage orders + customer as catalog-managed tables bucketed by
    * custkey (16 buckets, bucket-sorted). The bucket build IS the
    * one-time shuffle the G9 story amortizes; every subsequent join on
    * custkey reads co-located buckets. */
  private[graft] def bucketedOrdersCustomer(
      s: org.apache.spark.sql.SparkSession, d: String): (String, String) = {
    def bucketed(tag: String, df: => org.apache.spark.sql.DataFrame, k: String) =
      StagedTables.stageTable(s, tag, d)(
        Tables.writeBucketed(df, _, Seq(k), 16, sortCols = Seq(k)))
    (bucketed("g9_orders", Tables.orders(s, d), "o_custkey"),
      bucketed("g9_customer", Tables.customer(s, d), "c_custkey"))
  }

  /** The co-located join itself (shared with PlanSpec's zero-Exchange
    * assertion): merge-hinted so the plan is the sort-merge join the
    * bucketing serves, not a broadcast of the small side. */
  private[graft] def bucketedJoin(s: org.apache.spark.sql.SparkSession,
                                  ot: String, ct: String): org.apache.spark.sql.DataFrame =
    s.table(ot).hint("merge")
      .join(s.table(ct), col("o_custkey") === col("c_custkey"))

  val all: Seq[QueryDef] = Seq(

    // A1 — surrogate key (airflow.py:161 `range(0, len(schedule_df))`).
    QueryDef.sql("q_surrogate_key",
      """SELECT (row_number() OVER (ORDER BY o_orderkey)) - 1 AS schedule_id,
        |       o_orderkey
        |FROM orders ORDER BY schedule_id""".stripMargin) { (s, d) =>
      Relational.surrogateKey(Tables.orders(s, d), "schedule_id", Seq(col("o_orderkey")))
        .select("schedule_id", "o_orderkey")
        .orderBy("schedule_id")
    },

    // A2 — projection/drop (airflow.py:165-168): pruned scan, never SELECT *.
    QueryDef.sql("q_project_drop",
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // A3 — row repetition ×2 (airflow.py:170-174 `np.repeat(values, 2)`).
    QueryDef.sql("q_row_repeat",
      """SELECT c_custkey, c_name, t.rep
        |FROM customer CROSS JOIN (VALUES (0), (1)) AS t(rep)
        |ORDER BY c_custkey, t.rep""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .withColumn("rep", explode(array(lit(0), lit(1))))
        .select("c_custkey", "c_name", "rep")
        .orderBy("c_custkey", "rep")
    },

    // A4 — dedup keep-first by key (airflow.py:176-180 details()).
    QueryDef.sql("q_dedup_first",
      """SELECT o_custkey, o_orderkey, o_orderstatus FROM (
        |  SELECT o_custkey, o_orderkey, o_orderstatus,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin) { (s, d) =>
      Relational.dedupKeepFirst(Tables.orders(s, d), Seq("o_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")))
        .select("o_custkey", "o_orderkey", "o_orderstatus")
        .orderBy("o_custkey")
    },

    // A5 — outer merge + dedup-first + not-null filter (airflow.py:191-204
    // location()): full outer join, keep-first per surviving key.
    QueryDef.sql("q_outer_merge",
      """SELECT o_orderkey, o_orderstatus, c_name, c_mktsegment FROM (
        |  SELECT o_orderkey, o_orderstatus, c_name, c_mktsegment,
        |         row_number() OVER (PARTITION BY o_orderkey
        |                            ORDER BY c_custkey) AS rn
        |  FROM orders FULL OUTER JOIN customer ON o_custkey = c_custkey)
        |WHERE o_orderkey IS NOT NULL AND rn = 1
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val merged = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "full_outer")
      Relational.dedupKeepFirst(merged, Seq("o_orderkey"), Seq(col("c_custkey")))
        .filter(col("o_orderkey").isNotNull)
        .select("o_orderkey", "o_orderstatus", "c_name", "c_mktsegment")
        .orderBy("o_orderkey")
    },

    // A6 — inner merge + dedup by join key (airflow.py:206-213 food_type()).
    QueryDef.sql("q_inner_merge",
      """SELECT c_custkey, c_name, o_orderkey, o_orderpriority FROM (
        |  SELECT c_custkey, c_name, o_orderkey, o_orderpriority,
        |         row_number() OVER (PARTITION BY c_custkey
        |                            ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM customer JOIN orders ON c_custkey = o_custkey)
        |WHERE rn = 1 ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val merged = Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      Relational.dedupKeepFirst(merged, Seq("c_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderpriority")
        .orderBy("c_custkey")
    },

    // A7 — left-join enrichment + dropna + distinct (airflow.py:241-249
    // yelp_info()). The dim side broadcasts (see GraftSession threshold).
    QueryDef.sql("q_left_enrich",
      """SELECT DISTINCT c_name, c_mktsegment, c_acctbal + 0.0 AS c_acctbal
        |FROM (SELECT o_custkey FROM orders) o
        |LEFT JOIN customer ON o.o_custkey = c_custkey
        |WHERE c_name IS NOT NULL
        |ORDER BY c_name""".stripMargin) { (s, d) =>
      // customer grows with sf: rely on the auto-threshold, not a hint.
      // c_acctbal + 0.0 on BOTH sides: the sf10 sweep found a raw -0.0
      // balance — Spark's DISTINCT normalizes float keys to +0.0
      // (NormalizeFloatingNumbers), DuckDB emits the raw -0.0 bit image,
      // and the driver hashes bytes. IEEE -0.0 + 0.0 = +0.0 in both
      // engines; identity for every other value.
      Tables.orders(s, d).select("o_custkey")
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "left")
        .filter(col("c_name").isNotNull)
        .select(col("c_name"), col("c_mktsegment"),
          (col("c_acctbal") + lit(0.0)).as("c_acctbal"))
        .distinct()
        .orderBy("c_name")
    },

    // A8 — per-group count on every row, then dedup (airflow.py:251-256
    // num_permit_per_business(): groupby.transform('count')).
    QueryDef.sql("q_group_transform_count",
      """SELECT o_custkey, n_orders FROM (
        |  SELECT o_custkey,
        |         count(*) OVER (PARTITION BY o_custkey) AS n_orders,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin) { (s, d) =>
      Relational.groupTransformCount(Tables.orders(s, d), "o_custkey", "n_orders",
          Seq(col("o_orderkey")))
        .select("o_custkey", "n_orders")
        .orderBy("o_custkey")
    },

    // A9 — date parse/reformat (airflow.py:221-229: strftime('%Y-%m-%d')).
    QueryDef.sql("q_date_format",
      """SELECT o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       CAST(year(o_orderdate) AS INT) AS order_year
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select(
          col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          year(col("o_orderdate")).as("order_year"))
        .orderBy("o_orderkey")
    },

    // A10 — FLAGSHIP: the reference's query1 (airflow.py:655-662):
    // left join + group + count + top-5. TakeOrderedAndProject: no global sort.
    QueryDef.sql("q_topk_join",
      """SELECT c_name, count(o_orderkey) AS order_count
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_name
        |ORDER BY order_count DESC, c_name LIMIT 5""".stripMargin) { (s, d) =>
      Relational.topKByAgg(
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_name")
          .agg(count(col("o_orderkey")).as("order_count")),
        5, Seq(col("order_count").desc, col("c_name"))
      )
    },

    // A11 — data-quality cardinality (airflow.py:57 countDistinct).
    QueryDef.sql("q_count_distinct",
      """SELECT count(DISTINCT o_custkey) AS n_customers,
        |       count(DISTINCT o_orderpriority) AS n_priorities,
        |       count(*) AS n_rows
        |FROM orders""".stripMargin) { (s, d) =>
      Tables.orders(s, d).agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(col("o_orderpriority")).as("n_priorities"),
        count(lit(1)).as("n_rows"))
    },

    // A13 — scale path of A11: HLL sketch (estimator ⇒ rows-only check).
    QueryDef.rowsOnly("q_approx_distinct") { (s, d) =>
      Tables.orders(s, d).agg(
        approx_count_distinct(col("o_custkey")).as("approx_customers"),
        countDistinct(col("o_custkey")).as("exact_customers"))
    },

    // A15 — salted join (operators.Skew): semantics-preserving skew
    // fallback for hot keys AQE can't re-plan. The oracle is the PLAIN
    // join — the whole point is that salting changes the shuffle layout
    // and nothing else, and the hash gate proves it row-for-row.
    QueryDef.sql("q_salted_join",
      """SELECT o_orderkey, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      import graft.operators.Skew
      val big = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey").as("c_custkey"))
      val small = Tables.customer(s, d).select("c_custkey", "c_name")
      Skew.saltedJoin(big, small, "c_custkey", salts = 8)
        .select("o_orderkey", "c_name")
        .orderBy("o_orderkey")
    },

    // A16 — keyed upsert: apply a deterministic "delta" to customer
    // (every 7th key gets a balance bump; every 13th key re-inserts
    // under a shifted key as a brand-new row) and merge. Updates win on
    // collision, unmatched base rows survive, new keys insert — the
    // incremental form of the reference's wholesale weekly reload.
    QueryDef.sql("q_upsert",
      """WITH updates AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |         c_acctbal + 100.0 AS c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_nationkey,
        |         c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 13 = 0)
        |SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal
        |FROM (
        |  SELECT * FROM updates
        |  UNION ALL
        |  SELECT b.* FROM customer b
        |  WHERE NOT EXISTS (SELECT 1 FROM updates u
        |                    WHERE u.c_custkey = b.c_custkey))
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val base = Tables.customer(s, d)
      val updates = base.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .unionByName(base.filter(col("c_custkey") % 13 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000L))
      Relational.upsert(base, updates, Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("double").as("acctbal"))
        .orderBy("c_custkey")
    },

    // A17 — SCD2 apply on a synthetic dimension history: customer as the
    // open history (plus a pre-closed version for every 11th key),
    // snapshot = delta (every 7th key's balance bumped = changed, every
    // 13th key shifted = new, every 17th key absent = logical delete).
    // Oracle reproduces the case analysis with explicit UNION ALL arms.
    QueryDef.sql("q_scd2", {
      val asOf = "2024-06-01"
      """WITH hist AS (
        |  SELECT c_custkey AS k, c_name, CAST(c_acctbal AS DOUBLE) AS bal,
        |         '2020-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_name, CAST(c_acctbal - 50.0 AS DOUBLE),
        |         '2019-01-01', '2020-01-01'
        |  FROM customer WHERE c_custkey % 11 = 0),
        |snap AS (
        |  SELECT c_custkey AS k, c_name,
        |         CAST(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
        |              ELSE c_acctbal END AS DOUBLE) AS bal
        |  FROM customer WHERE c_custkey % 17 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, CAST(c_acctbal AS DOUBLE)
        |  FROM customer WHERE c_custkey % 13 = 0),
        |open_h AS (SELECT * FROM hist WHERE valid_to IS NULL),
        |closed_h AS (SELECT * FROM hist WHERE valid_to IS NOT NULL),
        |matched AS (SELECT o.k, o.c_name AS o_name, o.bal AS o_bal,
        |                   o.valid_from AS o_vf, s.c_name AS s_name, s.bal AS s_bal
        |            FROM open_h o JOIN snap s ON o.k = s.k),
        |out AS (
        |  -- "unchanged" must mirror the operator's null-safe <=> compare
        |  -- (IS NOT DISTINCT FROM): with plain =, a NULL attribute would
        |  -- satisfy NEITHER arm and the matched row would vanish.
        |  SELECT k, o_name AS c_name, o_bal AS bal, o_vf AS valid_from,
        |         CAST(NULL AS VARCHAR) AS valid_to
        |  FROM matched WHERE o_name IS NOT DISTINCT FROM s_name
        |                 AND o_bal IS NOT DISTINCT FROM s_bal
        |  UNION ALL
        |  SELECT k, o_name, o_bal, o_vf, '@ASOF'
        |  FROM matched WHERE NOT (o_name IS NOT DISTINCT FROM s_name
        |                      AND o_bal IS NOT DISTINCT FROM s_bal)
        |  UNION ALL
        |  SELECT k, s_name, s_bal, '@ASOF', CAST(NULL AS VARCHAR)
        |  FROM matched WHERE NOT (o_name IS NOT DISTINCT FROM s_name
        |                      AND o_bal IS NOT DISTINCT FROM s_bal)
        |  UNION ALL
        |  SELECT o.k, o.c_name, o.bal, o.valid_from, '@ASOF'
        |  FROM open_h o WHERE NOT EXISTS (SELECT 1 FROM snap s WHERE s.k = o.k)
        |  UNION ALL
        |  SELECT s.k, s.c_name, s.bal, '@ASOF', CAST(NULL AS VARCHAR)
        |  FROM snap s WHERE NOT EXISTS (SELECT 1 FROM open_h o WHERE o.k = s.k)
        |  UNION ALL
        |  SELECT k, c_name, bal, valid_from, valid_to FROM closed_h)
        |SELECT k, c_name, bal, valid_from, valid_to FROM out
        |ORDER BY k, valid_from, coalesce(valid_to, '9999-12-31')"""
        .stripMargin.replace("@ASOF", asOf)
    }) { (s, d) =>
      val cust = Tables.customer(s, d)
      val openH = cust.select(col("c_custkey").as("k"), col("c_name"),
        col("c_acctbal").cast("double").as("bal"),
        lit("2020-01-01").as("valid_from"), lit(null).cast("string").as("valid_to"))
      val closedH = cust.filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey").as("k"), col("c_name"),
          (col("c_acctbal") - 50.0).cast("double").as("bal"),
          lit("2019-01-01").as("valid_from"), lit("2020-01-01").as("valid_to"))
      val snapshot = cust.filter(col("c_custkey") % 17 =!= 0)
        .select(col("c_custkey").as("k"), col("c_name"),
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")).cast("double").as("bal"))
        .unionByName(cust.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 1000000L).as("k"), col("c_name"),
            col("c_acctbal").cast("double").as("bal")))
      Relational.scd2Apply(openH.unionByName(closedH), snapshot,
          Seq("k"), Seq("c_name", "bal"), asOf = "2024-06-01")
        .orderBy(col("k"), col("valid_from"),
          coalesce(col("valid_to"), lit("9999-12-31")))
    },

    // A14 — deterministic hash sampling (reference: `import random  # data
    // quality testing`). RNG sampling isn't reproducible across engines or
    // re-runs; hashing the key IS: take rows whose md5(key) starts below a
    // cut. Same ~4/256 rate everywhere, stable under retries/partitioning —
    // the only sane way to sample 100 TB reproducibly.
    QueryDef.sql("q_hash_sample",
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '04'
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .filter(substring(md5(col("o_orderkey").cast("string")), 1, 2) < "04")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")
    },

    // A18 — column profiling: the whole table audited in ONE scan (melt +
    // per-column aggregate; see operators.Profiling). The oracle is the
    // obvious per-column UNION ALL — DuckDB may scan k times, Spark must
    // not. Numeric/timestamp min-max stay numeric (epoch millis for
    // timestamps); double→string formatting is never compared.
    QueryDef.sql("q_profile", {
      def num(c: String, v: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($v) AS DOUBLE) AS min_num, CAST(max($v) AS DOUBLE) AS max_num,
           |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
           |FROM orders""".stripMargin
      def str(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           |  min($c) AS min_str, max($c) AS max_str
           |FROM orders""".stripMargin
      Seq(num("o_orderkey", "o_orderkey"), num("o_custkey", "o_custkey"),
        str("o_orderstatus"), num("o_totalprice", "o_totalprice"),
        num("o_orderdate", "epoch_ms(o_orderdate)"), str("o_orderpriority"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    }) { (s, d) =>
      Profiling.profile(Tables.orders(s, d),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"))
        .orderBy("col_name")
    },

    // A18 scale path — HLL distinct counts: no multi-distinct Expand, no
    // distinct-value shuffle, one partial-agg pass (estimator ⇒ rows-only;
    // agreement with the exact profile is spec'd in ProfilingSpec).
    QueryDef.rowsOnly("q_profile_approx") { (s, d) =>
      Profiling.profile(Tables.orders(s, d),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"), approx = true)
        .orderBy("col_name")
    },

    // A20 — unpivot/melt (B7 pivot's inverse; wide metrics → long
    // (key, metric, value) — the Profiling melt as a first-class op,
    // here via Spark's native unpivot which compiles to one Expand over
    // one scan; the oracle's UNION ALL form may scan k times — Spark
    // must not).
    QueryDef.sql("q_unpivot",
      """SELECT o_orderkey, metric, value FROM (
        |  SELECT o_orderkey, 'o_custkey' AS metric, CAST(o_custkey AS DOUBLE) AS value FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'o_totalprice', CAST(o_totalprice AS DOUBLE) FROM orders)
        |ORDER BY o_orderkey, metric""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .unpivot(Array(col("o_orderkey")),
          Array(col("o_custkey").cast("double"), col("o_totalprice").cast("double")),
          "metric", "value")
        .orderBy("o_orderkey", "metric")
    },

    // G10 — paged-REST extract (airflow.py:71-85 Socrata `$limit`/`$offset`
    // loop): a deterministic 2000-row slice of `orders` plays the external
    // API (rendered to JSON driver-side — that half SIMULATES the remote
    // service, it is not engine work), is paged through the fetcher, landed
    // as raw page files, schema-read back FAILFAST, and aggregated. The
    // oracle computes the same aggregate over the parquet rows directly, so
    // the hash gate proves the land→parse path is a faithful round-trip
    // (types included: decimal-exact money sum, timestamp max). One double
    // cast at the end per SURVEY §4.
    QueryDef.sql("q_rest_extract",
      """WITH feed AS (SELECT * FROM orders ORDER BY o_orderkey LIMIT 2000)
        |SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       max(o_orderdate) AS max_date
        |FROM feed GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.sources.RestExtract
      val feedRows = Tables.orders(s, d).orderBy("o_orderkey").limit(2000)
        .toJSON.collect().toIndexedSeq
      val landing = s"${System.getProperty("java.io.tmpdir")}/graft_rest_landing"
      val landed = RestExtract.extract(s, RestExtract.RowsFetcher(feedRows),
        landing, Tables.schemas("orders"), limit = 256)
      landed.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          max(col("o_orderdate")).as("max_date"))
        .orderBy("o_orderstatus")
    },

    // G9 — bucketed co-located join, surfaced through the driver's gate
    // (r6 verdict: the write-once-shuffle/join-forever-free claim was
    // PlanSpec-only). orders and customer are written ONCE as managed
    // tables bucketed by custkey (the shuffle paid at build time), then
    // the repeated daily join runs with ZERO exchange on the join key —
    // the layout both sides recorded in the catalog satisfies the join's
    // distribution requirement. The merge hint pins the sort-merge path
    // so the assertion is about bucketing, not the small side being
    // broadcast; PlanSpec asserts the executed plan has no Exchange below
    // the join. Oracle = the plain join SQL over the raw parquet: the
    // layout must be invisible in the result.
    QueryDef.sql("q_bucketed_join",
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val (ot, ct) = bucketedOrdersCustomer(s, d)
      bucketedJoin(s, ot, ct)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy("c_mktsegment")
    },

    // G13 — Z-order (Morton) clustering audit: quantize (custkey,
    // order-day) to 8 bits each over broadcast global bounds, interleave
    // the bits, bucket by the top 5 z-bits (32 buckets — the stand-ins
    // for files), and report each bucket's min/max span in BOTH
    // dimensions plus whether it overlaps a fixed 10%×10% query box.
    // The point the numbers make: under z-order every bucket's span is
    // narrow in both dimensions, so the box overlaps a handful of
    // buckets — a 1-D sort layout is narrow in one dimension and spans
    // the whole other, overlapping everything (ZOrderSpec asserts the
    // comparison; at 100 TB buckets are parquet files and overlap =
    // min/max stats pruning). All integer/broadcast arithmetic —
    // the bucket assignment is oracle-checked bit for bit.
    QueryDef.sql("q_zorder_layout", {
      import graft.operators.ZOrder
      val inter = ZOrder.interleaveDuck("qa", "qb", 8)
      s"""WITH b AS (SELECT min(o_custkey) AS ckmn, max(o_custkey) AS ckmx,
         |  min(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS dmn,
         |  max(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS dmx
         |  FROM orders),
         |q AS (SELECT o_custkey AS ck,
         |        datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dy,
         |        ckmn, ckmx, dmn, dmx FROM orders CROSS JOIN b),
         |qz AS (SELECT ck, dy, ckmn, ckmx, dmn, dmx,
         |        least(CAST(floor(CAST(ck - ckmn AS DOUBLE) * 255 / CAST(ckmx - ckmn AS DOUBLE)) AS BIGINT), 255) AS qa,
         |        least(CAST(floor(CAST(dy - dmn AS DOUBLE) * 255 / CAST(dmx - dmn AS DOUBLE)) AS BIGINT), 255) AS qb
         |       FROM q),
         |z AS (SELECT ck, dy, ckmn, ckmx, dmn, dmx, ($inter) >> 11 AS zbucket FROM qz)
         |SELECT zbucket, count(*) AS n_rows,
         |  min(ck) AS ck_min, max(ck) AS ck_max,
         |  CAST(min(dy) AS BIGINT) AS day_min, CAST(max(dy) AS BIGINT) AS day_max,
         |  CAST(min(ck) <= any_value(ckmn) + (any_value(ckmx) - any_value(ckmn)) * 0.35
         |   AND max(ck) >= any_value(ckmn) + (any_value(ckmx) - any_value(ckmn)) * 0.25
         |   AND min(dy) <= any_value(dmn) + (any_value(dmx) - any_value(dmn)) * 0.35
         |   AND max(dy) >= any_value(dmn) + (any_value(dmx) - any_value(dmn)) * 0.25
         |   AS BIGINT) AS overlaps_box
         |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin
    }) { (s, d) =>
      import graft.operators.ZOrder
      val ord = Tables.orders(s, d)
        .select(col("o_custkey").as("ck"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
            .cast("long").as("dy"))
      val b = ord.agg(min("ck").as("ckmn"), max("ck").as("ckmx"),
        min("dy").as("dmn"), max("dy").as("dmx"))
      ord.crossJoin(broadcast(b))
        .withColumn("qa", ZOrder.quantize(col("ck"), col("ckmn"), col("ckmx"), 8))
        .withColumn("qb", ZOrder.quantize(col("dy"), col("dmn"), col("dmx"), 8))
        .withColumn("zbucket", shiftright(ZOrder.interleave(col("qa"), col("qb"), 8), 11))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n_rows"),
          min("ck").as("ck_min"), max("ck").as("ck_max"),
          min("dy").as("day_min"), max("dy").as("day_max"),
          (min("ck") <= first("ckmn") + (first("ckmx") - first("ckmn")) * 0.35 &&
           max("ck") >= first("ckmn") + (first("ckmx") - first("ckmn")) * 0.25 &&
           min("dy") <= first("dmn") + (first("dmx") - first("dmn")) * 0.35 &&
           max("dy") >= first("dmn") + (first("dmx") - first("dmn")) * 0.25)
            .cast("long").as("overlaps_box"))
        .orderBy("zbucket")
    },

    // A21 — incremental aggregate maintenance (materialized-view refresh,
    // operators.Incremental): the per-customer order stats are "stored"
    // as the aggregate of the first half of history (simulating the MV
    // from prior runs — at scale the half the engine must NOT rescan),
    // the second half is the new-arrivals delta; the refresh aggregates
    // ONLY the delta and merges two agg-sized relations. The oracle is
    // the full-history aggregate — the merge must be indistinguishable
    // from a rebuild.
    QueryDef.sql("q_incremental_agg",
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, d) =>
      import graft.operators.Incremental
      val orders = Tables.orders(s, d)
      val split = lit("1995-01-01 00:00:00").cast("timestamp")
      def agg(part: org.apache.spark.sql.DataFrame) = part
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("sum_price"))
      val stored = agg(orders.filter(col("o_orderdate") < split))
      val delta = agg(orders.filter(col("o_orderdate") >= split))
      Incremental.mergeAdditive(stored, delta,
          Seq("o_custkey"), Seq("n_orders", "sum_price"))
        .select(col("o_custkey"), col("n_orders"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy("o_custkey")
    },

    // A24 — incremental JOIN-view maintenance: the orders⋈customer view
    // refreshed under insert-only deltas on BOTH sides (every 97th order,
    // every 89th customer are "new arrivals"). The refresh is the IVM
    // identity ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB unioned onto the untouched stored
    // view — each delta term broadcasts its delta side, so the refresh
    // costs O(Δ) while the stored view is never re-joined (at 100 TB:
    // appended to, not rebuilt). Oracle = the full rebuild; row-level
    // hash match proves refresh ≡ rebuild. Deletes/updates ride the A22
    // CDC diff in front of this identity.
    QueryDef.sql("q_incremental_join",
      """SELECT o.o_orderkey, o.o_custkey,
        |  CAST(o.o_totalprice AS DOUBLE) AS o_totalprice, c.c_nationkey
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      import graft.operators.Incremental
      val a = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val b = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      val (oldA, dA) = (a.filter(col("o_orderkey") % 97 =!= 0),
        a.filter(col("o_orderkey") % 97 === 0))
      val (oldB, dB) = (b.filter(col("o_custkey") % 89 =!= 0),
        b.filter(col("o_custkey") % 89 === 0))
      // in deployment oldView is the STORED parquet; composing it here
      // keeps the whole identity inside one verifiable plan
      val oldView = oldA.join(oldB, Seq("o_custkey"))
      Incremental.refreshJoinView(oldView, oldA, dA, oldB, dB, Seq("o_custkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("o_totalprice"), col("c_nationkey"))
        .orderBy("o_orderkey")
    },

    // A22 — snapshot diff / CDC (operators.Diff): two keyed snapshots of
    // orders are derived deterministically — "last week" is history
    // before 1995-07-01; "this week" extends to 1996-01-01 (inserts),
    // drops every 13th key (deletes), and doubles the price of every 7th
    // (updates; doubling a double is exact in FP). The diff must emit
    // exactly the planted change set: one full-outer key join, null-safe
    // compare, change-sized output.
    QueryDef.sql("q_snapshot_diff",
      """WITH oldv AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1995-07-01 00:00:00'),
        |newv AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus
        |  FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderkey % 13 <> 0)
        |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |       WHEN n.o_orderkey IS NULL THEN 'delete'
        |       ELSE 'update' END AS op,
        |  o.o_totalprice AS old_o_totalprice,
        |  n.o_totalprice AS new_o_totalprice,
        |  o.o_orderstatus AS old_o_orderstatus,
        |  n.o_orderstatus AS new_o_orderstatus
        |FROM oldv o FULL JOIN newv n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      import graft.operators.Diff
      val orders = Tables.orders(s, d)
      val oldSnap = orders
        .filter(col("o_orderdate") < lit("1995-07-01 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val newSnap = orders
        .filter(col("o_orderdate") < lit("1996-01-01 00:00:00").cast("timestamp"))
        .filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderstatus"))
      Diff.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"),
          Seq("o_totalprice", "o_orderstatus"))
        .orderBy("o_orderkey")
    },

    // A23 — data-quality expectations (operators.Expectations): seven
    // named rules over orders — six row-level predicates + key
    // uniqueness — evaluated in ONE aggregate scan (k rules ≠ k passes;
    // Profiling's melt discipline applied to validation). The price cap
    // is set low enough to plant real violations, so nonzero counting is
    // oracle-proven, not vacuous.
    QueryDef.sql("q_expectations",
      """WITH a AS (SELECT count(*) AS n,
        |  sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS v_custkey_not_null,
        |  sum(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01 00:00:00'
        |            AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |           THEN 0 ELSE 1 END) AS v_date_in_range,
        |  sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS v_price_positive,
        |  sum(CASE WHEN o_totalprice <= 300000 THEN 0 ELSE 1 END) AS v_price_below_cap,
        |  sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS v_status_in_domain,
        |  sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 0 ELSE 1 END) AS v_priority_format,
        |  count(*) - count(DISTINCT o_orderkey) AS v_unique_o_orderkey
        |FROM orders)
        |SELECT rule, n_rows, n_violations, n_violations = 0 AS pass FROM (
        |  SELECT 'custkey_not_null' AS rule, n AS n_rows, CAST(v_custkey_not_null AS BIGINT) AS n_violations FROM a
        |  UNION ALL SELECT 'date_in_range', n, CAST(v_date_in_range AS BIGINT) FROM a
        |  UNION ALL SELECT 'price_positive', n, CAST(v_price_positive AS BIGINT) FROM a
        |  UNION ALL SELECT 'price_below_cap', n, CAST(v_price_below_cap AS BIGINT) FROM a
        |  UNION ALL SELECT 'status_in_domain', n, CAST(v_status_in_domain AS BIGINT) FROM a
        |  UNION ALL SELECT 'priority_format', n, CAST(v_priority_format AS BIGINT) FROM a
        |  UNION ALL SELECT 'unique_o_orderkey', n, CAST(v_unique_o_orderkey AS BIGINT) FROM a)
        |ORDER BY rule""".stripMargin) { (s, d) =>
      import graft.operators.Expectations
      Expectations.check(Tables.orders(s, d), Seq(
        "custkey_not_null" -> col("o_custkey").isNotNull,
        "date_in_range" ->
          (col("o_orderdate") >= lit("1992-01-01 00:00:00").cast("timestamp") &&
           col("o_orderdate") < lit("1999-01-01 00:00:00").cast("timestamp")),
        "price_positive" -> (col("o_totalprice") > 0),
        "price_below_cap" -> (col("o_totalprice") <= 300000),
        "status_in_domain" -> col("o_orderstatus").isin("O", "F", "P"),
        "priority_format" -> col("o_orderpriority").rlike("^[1-5]-")),
        uniqueKeys = Seq("o_orderkey"))
    },

    // G14 — the SQL gateway: ONE ANSI string (the dialect-common subset
    // both engines parse) registered-temp-view'd and executed VERBATIM
    // by spark.sql — the same text the oracle runs in DuckDB. This is
    // the "run the SQL you run today" surface of the engine: the
    // DataFrame rows prove the operators, this row proves the TEXT
    // interface reaches the same Catalyst plans (pushdown, broadcast,
    // partial agg — all free through the parser too).
    QueryDef.sql("q_sql_gateway", EtlQueries.gatewaySql) { (s, d) =>
      // The view names MUST be the bare table names — the whole point is
      // that the oracle executes the identical text. But leaving them
      // registered would shadow same-named catalog tables for everything
      // run later in the shared session, so they are dropped immediately:
      // spark.sql() resolves relations during analysis (at call time),
      // after which the returned DataFrame no longer needs the views.
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      try s.sql(EtlQueries.gatewaySql)
      finally Seq("orders", "customer", "nation").foreach(s.catalog.dropTempView)
    },

    // A26 — QUARANTINE report (the dead-letter-queue pattern A23's
    // expectations stop short of: not "did the batch pass" but "which
    // rows fail WHICH rule, and what survives all of them"): every rule
    // is a codegen'd conditional inside ONE pass — no per-rule re-scan,
    // no row ever rewritten — and the clean count applies the conjunction
    // in the same aggregate. At 100 TB this is the audit that rides every
    // landing job; the actual split (clean → land, bad → quarantine dir
    // with the reason bitmask) is the same projections written out.
    QueryDef.sql("q_quarantine",
      """WITH checked AS (
        |  SELECT CASE WHEN o_totalprice > 450000 THEN 1 ELSE 0 END AS r_price,
        |         CASE WHEN CAST(o_orderdate AS DATE) < DATE '1995-01-01'
        |                OR CAST(o_orderdate AS DATE) >= DATE '2002-01-01' THEN 1 ELSE 0 END AS r_date,
        |         CASE WHEN o_orderpriority NOT IN
        |                ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
        |              THEN 1 ELSE 0 END AS r_prio
        |  FROM orders)
        |SELECT 'price_cap' AS rule, CAST(0 AS BIGINT) AS rule_idx,
        |  CAST(sum(r_price) AS BIGINT) AS n_bad, CAST(count(*) AS BIGINT) AS n FROM checked
        |UNION ALL SELECT 'date_range', CAST(1 AS BIGINT),
        |  CAST(sum(r_date) AS BIGINT), CAST(count(*) AS BIGINT) FROM checked
        |UNION ALL SELECT 'priority_domain', CAST(2 AS BIGINT),
        |  CAST(sum(r_prio) AS BIGINT), CAST(count(*) AS BIGINT) FROM checked
        |UNION ALL SELECT 'clean', CAST(3 AS BIGINT),
        |  CAST(sum(CASE WHEN r_price + r_date + r_prio = 0 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM checked
        |ORDER BY rule_idx""".stripMargin) { (s, d) =>
      val checked = Tables.orders(s, d).select(
        when(col("o_totalprice") > 450000, 1L).otherwise(0L).as("r_price"),
        when(col("o_orderdate").cast("date") < lit("1995-01-01").cast("date") ||
             col("o_orderdate").cast("date") >= lit("2002-01-01").cast("date"), 1L)
          .otherwise(0L).as("r_date"),
        when(!col("o_orderpriority").isin(
          "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 1L)
          .otherwise(0L).as("r_prio"))
      checked.agg(
          sum("r_price").as("b0"), sum("r_date").as("b1"), sum("r_prio").as("b2"),
          sum(when(col("r_price") + col("r_date") + col("r_prio") === 0, 1L)
            .otherwise(0L)).as("b3"),
          count(lit(1)).as("n"))
        .select(expr("stack(4, " +
          "'price_cap', CAST(0 AS BIGINT), b0, n, " +
          "'date_range', CAST(1 AS BIGINT), b1, n, " +
          "'priority_domain', CAST(2 AS BIGINT), b2, n, " +
          "'clean', CAST(3 AS BIGINT), b3, n) AS (rule, rule_idx, n_bad, n)"))
        .orderBy("rule_idx")
    },

    // A27 — data masking for sharing a dimension outside the trust
    // boundary (the TABLE-level companion to C9's free-text scrub):
    // (1) key → deterministic md5 TOKEN — PSEUDONYMOUS, NOT ANONYMIZED:
    // an unsalted hash of a dense integer key space is reversible by
    // enumerating keys, so this defends against casual exposure only;
    // production use needs a keyed hash (HMAC with a secret) in place of
    // the bare md5, which swaps in without changing the plan shape. It
    // is join-stable either way — downstream equi-joins on the token
    // still work across tables masked with the same key;
    // (2) name → first-4 + '*' pad —
    // format-preserving redaction (length survives for layout QA); (3)
    // balance → generalized to the nearest 100 (k-anonymity
    // generalization: coarse enough to pool, ordered enough to
    // analyze); quasi-identifiers (nation, segment) pass through for
    // utility. One projection-only scan — narrow, codegen'd, zero
    // shuffles at any scale.
    QueryDef.sql("q_data_mask",
      """SELECT
        |  substr(md5(CAST(c_custkey AS VARCHAR)), 1, 16) AS key_token,
        |  substr(c_name, 1, 4) || repeat('*', greatest(0, length(c_name) - 4)) AS name_masked,
        |  CAST(round(c_acctbal / 100.0) AS BIGINT) * 100 AS acctbal_bucket,
        |  c_nationkey, c_mktsegment
        |FROM customer ORDER BY key_token""".stripMargin) { (s, d) =>
      Tables.customer(s, d).selectExpr(
          "substr(md5(CAST(c_custkey AS STRING)), 1, 16) AS key_token",
          "concat(substr(c_name, 1, 4), " +
            "repeat('*', greatest(0, length(c_name) - 4))) AS name_masked",
          "CAST(round(c_acctbal / 100.0D) AS BIGINT) * 100 AS acctbal_bucket",
          "c_nationkey", "c_mktsegment")
        .orderBy("key_token")
    },

    // A28 — SCD2 POINT-IN-TIME lookup: join every fact to the dimension
    // VERSION that was valid at the fact's own date — the read side of
    // A17's history maintenance (A17 builds the versioned dim; this is
    // how a fact table consumes it without leaking attributes from the
    // future — "as-was", not "as-is"). Plan shape: an EQUI-join on the
    // natural key with the validity window as a residual predicate —
    // versions per key are few and non-overlapping, so the fan-out is
    // bounded by history depth, never a range/cross join; at 100 TB the
    // dim side is key×versions and broadcasts or co-shuffles like any
    // dimension. The per-version fingerprint sums the looked-up
    // attribute, so one fact row matched to the wrong version breaks
    // the hash.
    QueryDef.sql("q_scd2_lookup",
      """WITH dim AS (
        |  SELECT c_custkey AS k, CAST(1 AS BIGINT) AS version,
        |    TIMESTAMP '1992-01-01' AS vf, TIMESTAMP '1997-01-01' AS vt,
        |    CAST(c_acctbal AS DOUBLE) AS bal
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, CAST(2 AS BIGINT),
        |    TIMESTAMP '1997-01-01', TIMESTAMP '1999-01-01',
        |    CAST(c_acctbal + 100.0 AS DOUBLE)
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, CAST(3 AS BIGINT),
        |    TIMESTAMP '1999-01-01', TIMESTAMP '9999-01-01',
        |    CAST(c_acctbal + 200.0 AS DOUBLE)
        |  FROM customer)
        |SELECT d.version, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(sum(CAST(d.bal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
        |FROM orders o JOIN dim d ON d.k = o.o_custkey
        |  AND o.o_orderdate >= d.vf AND o.o_orderdate < d.vt
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val cust = Tables.customer(s, d)
      def ver(n: Int, vf: String, vt: String, shift: Double) =
        cust.select(col("c_custkey").as("k"), lit(n.toLong).as("version"),
          lit(vf).cast("timestamp").as("vf"), lit(vt).cast("timestamp").as("vt"),
          (col("c_acctbal") + shift).cast("double").as("bal"))
      val dim = ver(1, "1992-01-01", "1997-01-01", 0.0)
        .unionAll(ver(2, "1997-01-01", "1999-01-01", 100.0))
        .unionAll(ver(3, "1999-01-01", "9999-01-01", 200.0))
      Tables.orders(s, d)
        .join(dim, col("k") === col("o_custkey") &&
          col("o_orderdate") >= col("vf") && col("o_orderdate") < col("vt"))
        .groupBy("version")
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").as("revenue"),
          expr("CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE)").as("bal_sum"))
        .orderBy("version")
    },

    // A29 — ingest-volume anomaly report: days whose row count sits
    // more than 2σ from THEIR WEEKDAY's mean — the pipeline-health
    // check every scheduled load runs before publishing (a raw global
    // z-score would flag every weekend; conditioning on day-of-week is
    // what makes the alarm usable — B44's profile turned into a gate).
    // Daily counts are ONE partial agg; the per-DOW moments are exact
    // INTEGER sums over the 7-row date-dim rollup; z is one fixed
    // closed form per day row; zero-variance weekdays are excluded by
    // an exact integer predicate (ss·k > s²), never a double compare.
    QueryDef.sql("q_volume_anomaly",
      """WITH dc AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2),
        |st AS (SELECT dow, CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS s,
        |         CAST(sum(n*n) AS BIGINT) AS ss
        |       FROM dc GROUP BY 1),
        |z AS (SELECT day, dc.dow, n,
        |    (n - CAST(s AS DOUBLE) / k)
        |      / sqrt((ss - (CAST(s AS DOUBLE) / k) * s) / (k - 1)) AS z
        |  FROM dc JOIN st ON dc.dow = st.dow
        |  WHERE k >= 2 AND ss * k > s * s)
        |SELECT strftime(day,'%Y-%m-%d') AS day, dow, n AS n_orders, z
        |FROM z WHERE abs(z) > 2.0 ORDER BY day""".stripMargin) { (s, d) =>
      val dc = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"),
          (((dayofweek(to_date(col("o_orderdate"))) + 5) % 7) + 1).cast("long").as("dow"))
        .agg(count(lit(1)).cast("long").as("n"))
      val st = dc.groupBy("dow")
        .agg(count(lit(1)).cast("long").as("k"), sum("n").cast("long").as("s"),
          sum(expr("n*n")).cast("long").as("ss"))
      dc.join(broadcast(st), "dow")
        .filter(col("k") >= 2 && col("ss") * col("k") > col("s") * col("s"))
        .selectExpr("date_format(day,'yyyy-MM-dd') AS day", "dow", "n AS n_orders",
          "(n - CAST(s AS DOUBLE) / k) " +
            "/ sqrt((ss - (CAST(s AS DOUBLE) / k) * s) / (k - 1)) AS z")
        .filter(abs(col("z")) > 2.0)
        .orderBy("day")
    }
  )

  /** The G14 shared text: valid and result-identical in Spark SQL AND
    * DuckDB — the oracle IS the executed query. (A `def`: `all`'s Seq
    * construction reads it during object init, before a later `val`
    * would have been assigned.) */
  private[queries] def gatewaySql: String =
    """SELECT n_name, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY n_name ORDER BY n_name""".stripMargin
}
