package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def span(id: Int, parent: Int, name: String, a: Long, b: Long) =
    Span(id, parent, name, s"w/p1/$name", a, b, (b - a) * 1000000L)

  test("an event goes to the innermost span it falls in, the later span on a shared millisecond") {
    val spans = Seq(
      span(0, -1, "opA", 100, 200), span(1, 0, "build", 100, 150), span(2, 0, "action", 150, 200),
      span(3, -1, "opB", 200, 300))
    def at(t: Long) = Attribution.spanOf(spans, t).map(_.name)
    assert(at(120).contains("build"))
    assert(at(150).contains("action"))
    assert(at(199).contains("action"))
    assert(at(200).contains("opB"))
    assert(at(301).isEmpty)
    assert(Attribution.subtree(spans, spans.head) == Set(0, 1, 2))
  }

  test("Spark jobs are attributed to the op whose span they ran in") {
    val rec = new JobRecorder
    val spans = new Spans
    val sc = spark.sparkContext
    // an RDD count is exactly one job
    def job(n: Int): Long = sc.parallelize(1 to n, 2).count()
    sc.addSparkListener(rec)
    try {
      spans("op", "w/p1/one")(job(10))
      spans("op", "w/p1/three") { job(10); job(20); job(30) }
      spans("op", "w/p1/none")(())
      spans("op", "w/p1/two") { job(5); job(6) }
      rec.drain()
    } finally sc.removeSparkListener(rec)
    val byOp = Attribution.assign(spans.all, rec.jobs.asScala)(_.startMs)
      .map { case (id, jobs) => spans.all.find(_.id == id).get.trace -> jobs.size }
    assert(byOp == Map("w/p1/one" -> 1, "w/p1/three" -> 3, "w/p1/two" -> 2))
  }
}
