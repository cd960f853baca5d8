package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows = {
    import spark.implicits._
    (1 to 200).map(i => (i.toLong, i * 0.5, if (i % 7 == 0) null else s"s$i",
      Seq(i, i + 1), Map(s"k$i" -> i, "z" -> -i))).toDF("id", "x", "s", "arr", "m")
  }

  test("fingerprint ignores row order and partitioning") {
    val df = rows
    val fp = Fingerprint.of(df)
    assert(fp.rows == 200)
    assert(Fingerprint.of(df.repartition(7)) == fp)
    assert(Fingerprint.of(df.orderBy(rand(3))) == fp)
    assert(Fingerprint.of(df.orderBy(col("id").desc).coalesce(1)) == fp)
  }

  test("fingerprint sees every column's content") {
    val df = rows
    val fp = Fingerprint.of(df)
    assert(Fingerprint.of(df.withColumn("x", when(col("id") === 5, 0.0).otherwise(col("x")))) != fp)
    assert(Fingerprint.of(df.withColumn("m", when(col("id") === 5, map(lit("k5"), lit(6)))
      .otherwise(col("m")))) != fp)
    assert(Fingerprint.of(df.filter(col("id") =!= 9)) != fp)
  }

  test("maps hash alike whatever order their entries were built in") {
    val a = spark.range(3).select(map(lit("a"), col("id"), lit("b"), lit(1L)).as("m"))
    val b = spark.range(3).select(map(lit("b"), lit(1L), lit("a"), col("id")).as("m"))
    assert(Fingerprint.of(a) == Fingerprint.of(b))
  }

  test("duplicate column names and empty results are fingerprinted") {
    val l = spark.range(5).toDF("k")
    val joined = l.join(l, l("k") === l("k"))
    assert(Fingerprint.of(joined).rows == 5)
    assert(Fingerprint.of(l.filter(lit(false))) == Fingerprint.Fp(0, 0, 0))
  }
}
