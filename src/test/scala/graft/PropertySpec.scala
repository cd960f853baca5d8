package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Relational, Skew}

/** Randomized equivalence properties: each blocked/partitioned/salted
  * operator must produce EXACTLY what its naive quadratic definition
  * produces, on data the author didn't get to pick. Seeds are fixed so
  * failures reproduce; iteration counts stay small because every check
  * runs real Spark jobs.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  for (seed <- 1 to 3) {
    test(s"simHashPairs == brute-force hamming pairs (seed $seed)") {
      val rnd = new Random(seed)
      val sims = (0L until 60L).map(i => (i, rnd.nextInt(1 << 16).toLong)).toDF("doc", "sim")
      val blocked = Dedup.simHashPairs(sims, bits = 16, maxHamming = 3)
        .select("a", "b").as[(Long, Long)].collect().toSet
      val rows = sims.as[(Long, Long)].collect()
      val brute = (for {
        (a, sa) <- rows; (b, sb) <- rows if a < b
        if java.lang.Long.bitCount(sa ^ sb) <= 3
      } yield (a, b)).toSet
      assert(blocked == brute)
    }

    test(s"components == union-find on random graphs (seed $seed)") {
      val rnd = new Random(2000 + seed)
      val n = 40
      val edges = (0 until 50).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val out = Dedup.components(edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      // reference: plain union-find over the collected edge list
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val expected = nodes.map { v =>
        val root = find(v.toInt)
        v -> nodes.filter(u => find(u.toInt) == root).min
      }.toMap
      assert(out == expected)
    }

    test(s"asofJoin == naive latest-at-or-before definition (seed $seed)") {
      val rnd = new Random(1000 + seed)
      val left = (0 until 80).map(i => (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(50)))
        .toDF("lid", "k", "t")
      // unique (k, t) on the right, as the operator requires
      val right = rnd.shuffle((0 until 5).flatMap(k => (0 until 50).map(t => (k.toLong, t))))
        .take(60).map { case (k, t) => (k, t, s"p$k-$t") }
        .toDF("k", "t", "payload")
      val out = Relational.asofJoin(left, right, "k", "t", Seq("payload"))
        .select("lid", "payload").as[(Long, String)].collect().toMap
      val rightRows = right.as[(Long, Int, String)].collect()
      left.as[(Long, Long, Int)].collect().foreach { case (lid, k, t) =>
        val expected = rightRows.filter(r => r._1 == k && r._2 <= t)
          .sortBy(_._2).lastOption.map(_._3)
        assert(out.get(lid).flatMap(Option(_)) == expected, s"lid=$lid k=$k t=$t")
      }
    }

    test(s"parallel k-core peel == sequential brute-force peel (seed $seed)") {
      val rnd = new Random(3000 + seed)
      val n = 30
      val edges = (0 until 70)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      for (k <- Seq(2, 3)) {
        val out = graft.operators.KCore.kcore(edges.toDF("u", "v"), k)
          .as[(Long, Long)].collect().toMap
        // sequential reference: peel ONE minimum-degree sub-k node at a time
        var adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (x, ys) => x -> ys.map(_._2).toSet }
        var done = false
        while (!done) {
          adj.find { case (_, nb) => nb.size < k } match {
            case Some((x, _)) =>
              adj = (adj - x).map { case (y, nb) => y -> (nb - x) }
            case None => done = true
          }
        }
        val expected = adj.map { case (x, nb) => x -> nb.size.toLong }
        assert(out == expected, s"k=$k")
      }
    }

    test(s"k-core peel with a supplied deg0 == computing it (seed $seed)") {
      val rnd = new Random(4000 + seed)
      val n = 30
      val edges = (0 until 70)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct.toDF("u", "v")
      def degreesOf(e: org.apache.spark.sql.DataFrame) =
        e.select(explode(array(col("u"), col("v"))).as("u")).groupBy("u").agg(count(lit(1)).as("dg"))
      for (k <- Seq(2, 3)) {
        def core(deg0: Option[org.apache.spark.sql.DataFrame]) =
          graft.operators.KCore.kcore(edges, k, deg0 = deg0).as[(Long, Long)].collect().toMap
        assert(core(Some(degreesOf(edges))) == core(None), s"k=$k")
      }
    }

    test(s"k-core peel throws on maxIter exhaustion instead of returning a superset (seed $seed)") {
      // a path graph peels one layer per round: 0-1-2-...-9 with k=2
      // strips both endpoints each round and needs ~5 rounds to empty —
      // maxIter=1 cannot converge and must FAIL LOUDLY (the survivors
      // after one round still contain sub-k nodes)
      val path = (0L until 9L).map(i => (i, i + 1))
      val ex = intercept[IllegalStateException] {
        graft.operators.KCore.kcore(path.toDF("u", "v"), k = 2, maxIter = 1).collect()
      }
      assert(ex.getMessage.contains("did not converge"))
      // and with enough rounds the same input converges (to the empty core)
      assert(graft.operators.KCore.kcore(path.toDF("u", "v"), k = 2).count() == 0)
    }

    test(s"saltedJoin == plain join (seed $seed)") {
      val rnd = new Random(2000 + seed)
      // heavily skewed keys on the big side — the case salting exists for
      val big = (0 until 200).map { i =>
        (i.toLong, if (rnd.nextInt(10) < 7) 0L else rnd.nextInt(8).toLong)
      }.toDF("rid", "k")
      val small = (0L until 8L).map(k => (k, s"v$k")).toDF("k", "v")
      val salted = Skew.saltedJoin(big, small, "k", salts = 4)
        .select("rid", "v").as[(Long, String)].collect().sorted.toSeq
      val plain = big.join(small, "k")
        .select("rid", "v").as[(Long, String)].collect().sorted.toSeq
      assert(salted == plain)
    }

    test(s"surrogateKey is dense, 0-based, and follows the order (seed $seed)") {
      val rnd = new Random(3000 + seed)
      val df = rnd.shuffle((0 until 500).toList)
        .map(i => (i.toLong * 7 % 500, s"row$i")).toDF("sort_k", "payload")
      val out = Relational.surrogateKey(df, "sid", Seq(col("sort_k")))
        .select("sid", "sort_k").as[(Long, Long)].collect().sortBy(_._1)
      assert(out.map(_._1).toSeq == (0L until 500L).toSeq) // dense, 0-based
      val keysInIdOrder = out.map(_._2).toSeq
      assert(keysInIdOrder == keysInIdOrder.sorted) // ids follow the order
    }
  }

  test("ngramJaccardPairs equals the brute-force pairwise Jaccard on random corpora") {
    val rnd = new Random(42)
    val vocab = Vector("red", "blue", "fox", "dog", "runs", "jumps", "high", "low")
    def doc(): String = (0 until 6 + rnd.nextInt(5)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = (0L until 40L).map(i => (i, doc())).toDF("doc_id", "text")
    val op = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // brute force in Scala over the same shingle definition
    val raw = docs.as[(Long, String)].collect()
    def shingles(t: String): Set[String] =
      t.split("\\s+").toSeq.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSet
    val brute = (for {
      (a, ta) <- raw; (b, tb) <- raw if a < b
      sa = shingles(ta); sb = shingles(tb)
      inter = (sa & sb).size.toDouble
      if sa.nonEmpty && sb.nonEmpty && inter / (sa.size + sb.size - inter) >= 0.2
    } yield (a, b)).toSet
    assert(op == brute)
  }

  // The H7 interleave position is computed by closed form from per-source
  // counts (no global window); this pins it to the definitional global
  // row_number over (rn, source) on data with UNEQUAL source sizes —
  // exactly where the min(cnt, rn−1) truncation and the smaller-source
  // tie term can go wrong.
  for (seed <- 1 to 3) {
    test(s"interleave closed-form position == global row_number (seed $seed)") {
      import org.apache.spark.sql.expressions.Window
      val rnd = new Random(3000 + seed)
      val rows = (0L until 120L).map(i => (i, s"s${rnd.nextInt(5)}"))
      val df = rows.toDF("doc_id", "source")
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val r = df.select(col("doc_id"), col("source"),
        row_number().over(w).cast("long").as("rn"))
      val cnt = df.groupBy(col("source").as("src2")).agg(count(lit(1)).as("cnt2"))
      val closed = r.crossJoin(broadcast(cnt))
        .groupBy("doc_id", "source", "rn")
        .agg((sum(least(col("cnt2"), col("rn") - 1)) +
          sum(when(col("cnt2") >= col("rn") && col("src2") < col("source"), 1L)
            .otherwise(0L)) + 1L).as("position"))
        .select("doc_id", "position").as[(Long, Long)].collect().toMap
      val windowed = r
        .select(col("doc_id"),
          row_number().over(Window.orderBy(col("rn"), col("source"))).cast("long")
            .as("position"))
        .as[(Long, Long)].collect().toMap
      assert(closed == windowed)
    }
  }

  // B62's island key: longest streak must match a direct Scala
  // computation of maximal consecutive runs, including single-day users
  // and users active every day.
  test("streak island key == direct consecutive-run computation") {
    val rnd = new Random(77)
    val pairs = for {
      u <- 0L until 25L
      d <- 0 until 20 if rnd.nextBoolean()
    } yield (u, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d)))
    val all = pairs ++ Seq(
      (100L, java.sql.Date.valueOf("2024-01-05")), // single active day
      (101L, java.sql.Date.valueOf("2024-01-01")), // every-day user
      (101L, java.sql.Date.valueOf("2024-01-02")),
      (101L, java.sql.Date.valueOf("2024-01-03")))
    val df = all.toDF("user_id", "day")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("day")
    val out = df.distinct()
      .select(col("user_id"),
        (datediff(col("day"), lit("1970-01-01").cast("date")).cast("long")
          - row_number().over(w)).as("grp"))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max("len").as("longest"))
      .as[(Long, Long)].collect().toMap
    val direct = all.groupBy(_._1).map { case (u, ds) =>
      val days = ds.map(_._2.toLocalDate.toEpochDay).distinct.sorted
      val runs = days.foldLeft(List.empty[Long]) {
        case (len :: rest, d) if days.contains(d - 1) => (len + 1) :: rest
        case (acc, _) => 1L :: acc
      }
      u -> runs.max
    }
    assert(out == direct)
  }
}
