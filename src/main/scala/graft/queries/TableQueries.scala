package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.{SnapshotTable, Tables}

/** SURVEY §2 group G16 — the snapshot-table (table-format) surface as
  * driver-gated queries: a fixed three-commit scenario over `orders`
  * (create → merge → delete) staged once (StagedTables), then read back at
  * different versions. The mutations are deterministic functions of the
  * base table, so every post-mutation state is reproducible as plain SQL
  * over `orders` — which is exactly what the oracles do. Aggregated
  * outputs keep the gate row-count-stable while still pinning every row
  * of the state (counts + exact DECIMAL sums per status).
  *
  * Scenario (all arithmetic exact in double):
  *  - v0 `create`: orders projected to (o_orderkey, o_orderstatus, price).
  *  - v1 `merge`:  keys with o_orderkey % 7 == 3 get price + 100.0
  *                 (matched updates), plus fresh rows keyed
  *                 o_orderkey + 100000000 for o_orderkey % 101 == 5 with
  *                 status 'N', price 50.0 (inserts).
  *  - v2 `delete`: status 'P' rows removed.
  */
object TableQueries {

  /** v0: orders projected to (o_orderkey, o_orderstatus, price). */
  private def base(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.orders(s, d).select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice").as("price"))

  /** The G16 commits into `dir`: create → merge (`% 7` updates, `% 101`
    * inserts) → delete status 'P'. */
  private def g16Commits(s: org.apache.spark.sql.SparkSession, d: String, dir: String): Unit = {
    val b = base(s, d)
    SnapshotTable.create(s, dir, b, "o_orderkey")
    val updates = b.filter(col("o_orderkey") % 7 === 3)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("price") + 100.0).as("price"))
    val inserts = b.filter(col("o_orderkey") % 101 === 5)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        lit("N").as("o_orderstatus"), lit(50.0).as("price"))
    SnapshotTable.merge(s, dir, updates.unionByName(inserts), "o_orderkey")
    SnapshotTable.delete(s, dir, col("o_orderstatus") === "P", "o_orderkey")
  }

  /** The shared G16 scenario table (three versions). */
  private def scenario(s: org.apache.spark.sql.SparkSession, d: String): String =
    StagedTables.stageDir("snaptable", d)(g16Commits(s, d, _))

  /** The per-status state fingerprint both engines aggregate to. */
  private def stateAgg(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("price").cast("decimal(18,2)")).cast("double").as("price_sum"))
      .orderBy("o_orderstatus")

  private val mergedCte =
    """base AS (SELECT o_orderkey, o_orderstatus, o_totalprice AS price FROM orders),
      |upd AS (SELECT o_orderkey, o_orderstatus, price + 100.0 AS price
      |        FROM base WHERE o_orderkey % 7 = 3),
      |ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
      |          'N' AS o_orderstatus, 50.0 AS price
      |        FROM base WHERE o_orderkey % 101 = 5),
      |v1 AS (SELECT * FROM base WHERE o_orderkey % 7 <> 3
      |       UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins),
      |v2 AS (SELECT * FROM v1 WHERE o_orderstatus <> 'P')""".stripMargin

  private val aggSql =
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
      |FROM %s GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // G16a — MERGE INTO + DELETE, read latest: the upsert-in-place
    // surface end to end. The oracle replays the same mutations as set
    // algebra over the base table; the snapshot table must land on the
    // identical state through file-level copy-on-write.
    QueryDef.sql("q_table_merge",
      s"WITH $mergedCte\n${aggSql.format("v2")}") { (s, d) =>
      stateAgg(SnapshotTable.read(s, scenario(s, d)))
    },

    // G16b — time travel: after both mutations, a version-0 read must
    // reproduce the ORIGINAL state bit for bit (the snapshot-isolation
    // contract; also the audit/rollback read path).
    QueryDef.sql("q_time_travel",
      s"WITH $mergedCte\n${aggSql.format("base")}") { (s, d) =>
      stateAgg(SnapshotTable.read(s, scenario(s, d), version = 0))
    },

    // G16c — the commit log: version → (op, row count). Row counts come
    // from manifest stats alone (no data scan); the oracle recomputes
    // each version's cardinality from the base table.
    QueryDef.sql("q_table_history",
      s"""WITH $mergedCte
         |SELECT * FROM (
         |  SELECT 0 AS version, 'create' AS op,
         |         (SELECT count(*) FROM base) AS n_rows
         |  UNION ALL SELECT 1, 'merge', (SELECT count(*) FROM v1)
         |  UNION ALL SELECT 2, 'delete', (SELECT count(*) FROM v2))
         |ORDER BY version""".stripMargin) { (s, d) =>
      SnapshotTable.history(s, scenario(s, d))
        .select(col("version"), col("op"), col("n_rows"))
    },

    // G18 — SCHEMA EVOLUTION: merge with a column the table never had
    // (discount, set on the matched rows only). Add-column must cost
    // manifest metadata, never a table rewrite: untouched files carry
    // over WITHOUT the column and their rows read it as NULL through the
    // mergeSchema read. The oracle replays the same state as set algebra
    // with a CASE-typed NULL column; the per-status fingerprint counts
    // non-null discounts and sums them, so a dropped column, a
    // mis-defaulted NULL, or a rewritten untouched row all break the
    // hash.
    QueryDef.sql("q_table_evolve",
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice AS price FROM orders),
        |v1 AS (SELECT o_orderkey, o_orderstatus, price,
        |         CASE WHEN o_orderkey % 7 = 3 THEN CAST(0.05 AS DOUBLE) END AS discount
        |       FROM base)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
        |  CAST(count(discount) AS BIGINT) AS n_disc,
        |  CAST(sum(CAST(coalesce(discount, 0) AS DECIMAL(18,4))) AS DOUBLE) AS disc_sum
        |FROM v1 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = evolveScenario(s, d)
      SnapshotTable.read(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(col("price").cast("decimal(18,2)")).cast("double").as("price_sum"),
          count(col("discount")).as("n_disc"),
          sum(coalesce(col("discount"), lit(0.0)).cast("decimal(18,4)"))
            .cast("double").as("disc_sum"))
        .orderBy("o_orderstatus")
    },

    // G17 — COMPACT: the lake-maintenance rewrite (G12) as a versioned
    // table operation. A separate scenario dir replays create → merge →
    // delete → compact; the latest read must land on the IDENTICAL v2
    // state (same oracle as G16a — compaction moves bytes, never rows),
    // while SnapshotTableSpec pins what the hash can't see: fewer files
    // after, pre-compaction versions still readable, history shows the
    // op with unchanged row count.
    QueryDef.sql("q_table_compact",
      s"WITH $mergedCte\n${aggSql.format("v2")}") { (s, d) =>
      stateAgg(SnapshotTable.read(s, compactScenario(s, d)))
    },

    // G20 — CHANGE DATA FEED: the row-level diff between committed
    // versions (insert/update/delete, unchanged rows excluded) read as a
    // query — what a downstream incremental consumer would ingest instead
    // of re-reading the table. The oracle knows exactly which rows each
    // transition touched (the mutations are deterministic set algebra
    // over orders), so the per-(transition, change_type) fingerprint pins
    // every fed row: a missed update, a leaked unchanged row, or a
    // wrong-image delete all break the hash. SnapshotTableSpec proves the
    // apply contract (feed(v0→v1) applied to v0 reproduces v1).
    // Fixture (r15 verdict #4): its OWN scenario whose mutations are
    // KEY-RANGE-CLUSTERED — updates and the delete touch only keys in
    // the lowest 1/16th of the key space over a 16-file table, so most
    // files do NOT intersect the change set and the manifest anti-join
    // actually skips them. The old shared fixture's `% 7` keys hit every
    // file, so the spec'd change-sized-read contract never showed in the
    // bench: the feed re-read the whole table twice and the row was
    // three rounds on the weak list for a cost the operator doesn't
    // have on realistic (clustered) change sets.
    QueryDef.sql("q_table_cdf",
      s"""WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice AS price FROM orders),
         |cut AS (SELECT max(o_orderkey) // 16 AS c FROM base),
         |upd AS (SELECT o_orderkey, o_orderstatus, price + 100.0 AS price
         |        FROM base, cut WHERE o_orderkey % 7 = 3 AND o_orderkey <= c),
         |ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
         |          'N' AS o_orderstatus, 50.0 AS price
         |        FROM base WHERE o_orderkey % 101 = 5),
         |v1 AS (SELECT b.* FROM base b, cut
         |       WHERE NOT (b.o_orderkey % 7 = 3 AND b.o_orderkey <= c)
         |       UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins),
         |del AS (SELECT v1.* FROM v1, cut
         |        WHERE o_orderstatus = 'P' AND o_orderkey <= c)
         |SELECT '0_1' AS transition, 'insert' AS change_type, count(*) AS n,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS price_sum FROM ins
         |UNION ALL SELECT '0_1', 'update', count(*),
         |  CAST(sum(o_orderkey) AS BIGINT),
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) FROM upd
         |UNION ALL SELECT '1_2', 'delete', count(*),
         |  CAST(sum(o_orderkey) AS BIGINT),
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) FROM del
         |ORDER BY transition, change_type""".stripMargin) { (s, d) =>
      val dir = cdfScenario(s, d)
      val feed = SnapshotTable.changeFeed(s, dir, 0, 1, "o_orderkey")
          .withColumn("transition", lit("0_1"))
        .unionByName(SnapshotTable.changeFeed(s, dir, 1, 2, "o_orderkey")
          .withColumn("transition", lit("1_2")))
      feed.groupBy("transition", "change_type")
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(col("price").cast("decimal(18,2)")).cast("double").as("price_sum"))
        .orderBy("transition", "change_type")
    },

    // G21 — RESTORE: roll the table back to a prior version after a bad
    // write, as a NEW commit (the audit trail keeps the bad version; the
    // rollback is itself history). Manifest-only — restoring a 100 TB
    // table costs one manifest write, zero data movement, because data
    // files are immutable and the restored manifest re-references them.
    // The scenario deletes status-'P' rows (the "bad write") then
    // restores to the post-merge version; the latest read must land on
    // the v1 state bit for bit — the oracle is v1's set algebra, so a
    // restore that leaks the delete, loses the merge, or re-reads the
    // wrong files breaks the hash.
    QueryDef.sql("q_table_restore",
      s"WITH $mergedCte\n${aggSql.format("v1")}") { (s, d) =>
      stateAgg(SnapshotTable.read(s, restoreScenario(s, d)))
    }
  )

  /** The G20 scenario: create (16 files, tight disjoint key ranges), then
    * a merge whose update keys live ONLY in the lowest 1/16th of the key
    * space (`% 7` within `key <= max_key div 16`) plus the usual
    * high-key inserts, then a delete scoped to the same low range. Every
    * mutation is key-range-clustered, so the COW rewrite — and therefore
    * the change feed's manifest anti-join — touches a handful of files
    * while the other ~14 carry over by reference and are provably
    * feed-silent. The cut is `max(key) div 16`: exact integer division
    * in both engines, deterministic at every sf. */
  private def cdfScenario(s: org.apache.spark.sql.SparkSession, d: String): String =
    StagedTables.stageDir("snaptable_f", d) { dir =>
      val b = base(s, d)
      SnapshotTable.create(s, dir, b, "o_orderkey", filesPerCommit = 16)
      val cut = b.agg(max(col("o_orderkey")).cast("long")).head().getLong(0) / 16
      val updates = b
        .filter(col("o_orderkey") % 7 === 3 && col("o_orderkey") <= cut)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("price") + 100.0).as("price"))
      val inserts = b.filter(col("o_orderkey") % 101 === 5)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), lit(50.0).as("price"))
      SnapshotTable.merge(s, dir, updates.unionByName(inserts), "o_orderkey")
      SnapshotTable.delete(s, dir,
        col("o_orderstatus") === "P" && col("o_orderkey") <= cut, "o_orderkey")
    }

  /** The G18 scenario: create, then a schema-EVOLVING merge that adds a
    * discount column on the matched keys only. Own dir (two versions). */
  private def evolveScenario(s: org.apache.spark.sql.SparkSession, d: String): String =
    StagedTables.stageDir("snaptable_e", d) { dir =>
      val b = base(s, d)
      SnapshotTable.create(s, dir, b, "o_orderkey")
      SnapshotTable.merge(s, dir,
        b.filter(col("o_orderkey") % 7 === 3).withColumn("discount", lit(0.05)),
        "o_orderkey", evolve = true)
    }

  /** The G17 scenario: the G16 three commits plus a compaction. Staged in
    * its OWN dir so the shared G16 history stays three versions. */
  private def compactScenario(s: org.apache.spark.sql.SparkSession, d: String): String =
    StagedTables.stageDir("snaptable_c", d) { dir =>
      g16Commits(s, d, dir)
      SnapshotTable.compact(s, dir, "o_orderkey", targetFiles = 2)
    }

  /** G21 scenario: create → merge → delete (the "bad write") → RESTORE
    * back to the post-merge version. */
  private def restoreScenario(s: org.apache.spark.sql.SparkSession, d: String): String =
    StagedTables.stageDir("snaptable_r", d) { dir =>
      g16Commits(s, d, dir)
      SnapshotTable.restore(s, dir, 1)
    }

  /** Stages all five scenario tables (the bench's staging prebuild). */
  private[queries] def stageScenarios(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    Seq(scenario _, cdfScenario _, evolveScenario _, compactScenario _, restoreScenario _)
      .foreach(_(s, d))
}
