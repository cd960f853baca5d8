package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity
import graft.queries.{SimilarityQueries, StagedTables}
import graft.sources.Tables

/** The staging contract (one name, one `_STAGED` marker, one lock, one
  * build log) and the bench's staging-disclosure machinery (ADVICE r12):
  * prebuild must force a fresh build of every registered staged artifact
  * and report a real (measured) cost per tag, so the bench artifact can
  * disclose the amortization its timed consumers enjoy. */
class StagedTablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def dirOf(tag: String, d: String) =
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_${Integer.toHexString(d.hashCode)}"

  test("prebuild forces a fresh build of every registered staged table and logs its cost") {
    val builds = StagedTables.prebuild(spark, TestSpark.sfDir)
    // every disclosure tag built (fresh — prebuild deletes first)
    assert(builds.keySet == StagedTables.consumers.keySet,
      s"built ${builds.keySet}, registered ${StagedTables.consumers.keySet}")
    assert(builds.values.forall(_ > 0.0), "build costs must be measured, not zero")
    // staged content round-trips (spot-check the shared fact)
    val ol = StagedTables.orderLines(spark, TestSpark.sfDir)
    assert(ol.count() > 0)
    assert(ol.columns.toSet == Set("l_orderkey", "l_partkey", "l_shipdate",
      "o_custkey", "o_orderdate", "o_orderpriority"))
    // a second access does NOT rebuild: the log keeps the prebuild cost
    val before = StagedTables.buildLog.get("orderlines")
    StagedTables.orderLines(spark, TestSpark.sfDir).count()
    assert(StagedTables.buildLog.get("orderlines") == before,
      "consumers after prebuild must reuse the staged parquet")
    // every consumer list names registered queries or downstream staged
    // tags (disclosure stays truthful as the query surface evolves) —
    // tag-consuming-tag edges model the staged build chains
    val registered = SparkEntry.queries.keySet ++ StagedTables.consumers.keySet
    val unknown = StagedTables.consumers.values.flatten.toSet.diff(registered)
    assert(unknown.isEmpty, s"consumer lists name unregistered queries: $unknown")
  }

  test("a dir without _STAGED is cleared and rebuilt exactly once") {
    val d = s"spec-partial-${System.nanoTime()}"
    val dir = dirOf("incidence", d)
    new File(dir).mkdirs()
    Files.writeString(Paths.get(s"$dir/part-00000.parquet"), "torn write")
    val builds = new AtomicInteger
    def stage() = StagedTables.stageDir("incidence", d) { out =>
      assert(new File(out).list().isEmpty, "a rebuild must start from an empty dir")
      builds.incrementAndGet()
      Files.writeString(Paths.get(s"$out/data"), "complete")
    }
    try {
      assert(stage() == dir && stage() == dir)
      assert(builds.get == 1)
      assert(!new File(s"$dir/part-00000.parquet").exists, "partial contents survived")
      assert(new File(s"$dir/_STAGED").isFile && new File(s"$dir/data").isFile)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))
  }

  test("4 threads staging one tag run its build exactly once") {
    val d = s"spec-race-${System.nanoTime()}"
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val racers = (1 to 4).map(_ => Future {
        go.await()
        StagedTables.stageDir("incidence", d) { _ =>
          builds.incrementAndGet()
          Thread.sleep(200)
        }
      })
      go.countDown()
      val dirs = Await.result(Future.sequence(racers), 60.seconds).toSet
      assert(dirs == Set(dirOf("incidence", d)))
      assert(builds.get == 1, s"${builds.get} builds")
    } finally {
      pool.shutdown()
      org.apache.commons.io.FileUtils.deleteQuietly(new File(dirOf("incidence", d)))
    }
  }

  test("an unregistered tag is rejected before anything is built") {
    intercept[IllegalArgumentException](
      StagedTables.stageDir("no_such_tag", TestSpark.sfDir)(_ => fail("built")))
    intercept[IllegalArgumentException](
      StagedTables.stageTable(spark, "no_such_tag", TestSpark.sfDir)(_ => fail("built")))
  }

  test("staged IVF centroids and PQ codebooks read back bit-equal, without retraining") {
    def bits(m: Array[Array[Float]]) = m.map(_.map(java.lang.Float.floatToRawIntBits).toSeq).toSeq
    // the file format itself: ragged blocks and edge values survive
    val d = s"spec-floats-${System.nanoTime()}"
    val odd = Array(Array(Array(-0.0f, Float.MinPositiveValue, Float.MaxValue)),
      Array(Array(1.5f, -2.25f), Array(3.0f, 4.0f)), Array.empty[Array[Float]])
    try {
      val back = StagedTables.stagedFloats("ivf_centroids", d)(odd)
      assert(back.map(bits).toSeq == odd.map(bits).toSeq)
      assert(StagedTables.stagedFloats("ivf_centroids", d)(fail("retrained")).map(bits).toSeq ==
        odd.map(bits).toSeq)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new File(dirOf("ivf_centroids", d)))

    val sf = TestSpark.sfDir
    val cents = SimilarityQueries.centroidsFor(spark, sf)
    val books = SimilarityQueries.pqCodebooksFor(spark, sf)
    val logged = Seq("ivf_centroids", "pq_codebooks").map(StagedTables.buildLog.get)
    val emb = Tables.embeddings(spark, sf)
    assert(bits(cents) == bits(Similarity.trainIvfCentroids(emb, "embedding", nLists = 16)))
    assert(books.map(bits).toSeq == Similarity.trainPqCodebooks(emb, "embedding",
      dims = 64, m = 8, ksub = 16).map(bits).toSeq)
    assert(bits(SimilarityQueries.centroidsFor(spark, sf)) == bits(cents))
    assert(SimilarityQueries.pqCodebooksFor(spark, sf).map(bits).toSeq == books.map(bits).toSeq)
    assert(Seq("ivf_centroids", "pq_codebooks").map(StagedTables.buildLog.get) == logged,
      "a second call must read the staged model, not retrain")
  }
}
