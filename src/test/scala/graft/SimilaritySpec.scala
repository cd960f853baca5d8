package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions
import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine of a vector with itself is 1") {
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val c = df.select(VectorFunctions.cosine(col("embedding"), col("embedding")).as("c"))
      .as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("native CosineF32 is bit-identical to the HOF formulation") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir).limit(200)
    val pairs = emb.select(col("vec_id").as("a"), col("embedding").as("av"))
      .crossJoin(emb.select(col("vec_id").as("b"), col("embedding").as("bv")))
      .filter(col("a") < col("b"))
    val diffs = pairs.select(
        VectorFunctions.cosine(col("av"), col("bv")).as("native"),
        VectorFunctions.cosineHof(col("av"), col("bv")).as("hof"))
      .filter(col("native") =!= col("hof")) // bit-exact: plain != on doubles
      .count()
    assert(diffs == 0)
  }

  test("native UnitF32 is bit-identical to the HOF unit().cast chain") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir).limit(500)
    val diffs = emb
      .select(
        expr("graft_unit_f32(CAST(embedding AS array<float>))").as("native"),
        VectorFunctions.unit(col("embedding")).cast("array<float>").as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diffs == 0)
  }

  test("unitVia (staged norm) is bit-identical to unit") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir).limit(500)
    val diffs = emb
      .withColumn("__n", VectorFunctions.norm(col("embedding")))
      .select(VectorFunctions.unit(col("embedding")).as("u"),
        VectorFunctions.unitVia(col("embedding"), col("__n")).as("uv"))
      .filter(col("u") =!= col("uv")) // array equality is element-wise exact
      .count()
    assert(diffs == 0)
  }

  test("native L2SqF64 is bit-identical to the HOF l2sq formulation") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir).limit(200)
    val pairs = emb.select(col("vec_id").as("a"), col("embedding").as("av"))
      .crossJoin(emb.select(col("vec_id").as("b"), col("embedding").as("bv")))
      .filter(col("a") < col("b"))
    // a null element makes both forms null; id-dependent so it is not
    // constant-folded and takes the codegen path like the real rows
    val nullElem = spark.range(1).selectExpr("-1L AS a",
      "array(CAST(id + 1 AS FLOAT), CAST(NULL AS FLOAT), CAST(2 AS FLOAT)) AS av",
      "-2L AS b", "array(CAST(id AS FLOAT), CAST(1 AS FLOAT), CAST(3 AS FLOAT)) AS bv")
    val both = pairs.unionByName(nullElem).select(
        VectorFunctions.l2sqFast(col("av"), col("bv")).as("native"),
        VectorFunctions.l2sq(col("av"), col("bv")).as("hof"))
    // bit-exact: null-safe == on doubles
    assert(both.filter(!(col("native") <=> col("hof"))).count() == 0)
    assert(both.filter(col("native").isNull).count() == 1)
    // and the interpreted path agrees
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def arr(xs: Any*) = Literal.create(xs, ArrayType(DoubleType))
    assert(graft.functions.L2SqF64(arr(1.0, null, 2.0), arr(0.0, 1.0, 3.0)).eval() == null)
    assert(graft.functions.L2SqF64(arr(1.0, 2.0), arr(0.0, 4.0)).eval() == 5.0)
  }

  test("graft_cosine is registered for SQL via GraftExtensions") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    emb.createOrReplaceTempView("emb_sql_check")
    val c = spark.sql(
      """SELECT graft_cosine(embedding, embedding) AS c
        |FROM emb_sql_check LIMIT 1""".stripMargin).as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("native LshBucketF32 is bit-identical to the HOF bucket formulation") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val diffs = emb.select(
        VectorFunctions.lshBucket(col("embedding"), 64, 8).as("native"),
        VectorFunctions.lshBucketHof(col("embedding"), 64, 8).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diffs == 0)
  }

  test("brute-force top-k returns k ranked neighbors excluding self") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val out = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 3), emb, 5)
    val rows = out.select("q", "rank", "n").as[(Long, Int, Long)].collect()
    assert(rows.length == 15)
    assert(rows.forall { case (q, _, n) => q != n })
    val ranks = rows.filter(_._1 == 0L).map(_._2).sorted.toSeq
    assert(ranks == Seq(1, 2, 3, 4, 5))
  }

  test("LSH top-k neighbors all share the probe's bucket and rank correctly") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val out = Similarity.lshTopK(emb.filter(col("vec_id") < 5), emb, 3, 64, 8)
    val byQ = out.select("q", "cos").as[(Long, Double)].collect().groupBy(_._1)
    byQ.values.foreach { rows =>
      val cs = rows.map(_._2).toSeq
      assert(cs == cs.sorted.reverse) // descending within each probe
    }
  }

  test("LSH recall vs brute force is nontrivial at rank 1") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val bf = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 20), emb, 1)
      .select("q", "n").as[(Long, Long)].collect().toMap
    val ls = Similarity.lshTopK(emb.filter(col("vec_id") < 20), emb, 1, 64, 8)
      .select("q", "n").as[(Long, Long)].collect().toMap
    val hits = bf.keys.count(q => ls.get(q).contains(bf(q)))
    assert(hits >= 1) // 8-plane 256-bucket LSH: some rank-1s survive bucketing
  }

  test("IVF with exhaustive probing equals brute force; partial probing beats random") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val centroids = Similarity.trainIvfCentroids(emb, "embedding", nLists = 16)
    assert(centroids.length == 16 && centroids.forall(_.nonEmpty))
    val probes = emb.filter(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(probes, emb, 1)
      .select("q", "n").as[(Long, Long)].collect().toMap
    // nProbe == nLists searches every inverted list: identical to brute
    // force by construction — the recall dial tops out at exact.
    val full = Similarity.ivfTopK(probes, emb, 1, centroids, nProbe = 16)
      .select("q", "n").as[(Long, Long)].collect().toMap
    assert(full == bf)
    // This synthetic corpus is near-noise (measured within-label cosine
    // ~0.02, true NN shares a label 7% of the time), so NO partitioning
    // scheme gets high recall at nProbe=2/16 — random co-assignment
    // would give ~12.5%. The assignment still has to beat that baseline:
    // probe and true NN share direction, so spherical k-means co-assigns
    // them more often than chance.
    val part = Similarity.ivfTopK(probes, emb, 1, centroids, nProbe = 2)
      .select("q", "n").as[(Long, Long)].collect().toMap
    val hits = bf.keys.count(q => part.get(q).contains(bf(q)))
    assert(hits >= 5, s"IVF recall@1 $hits/${bf.size} below the random baseline")
  }

  test("IVF-blocked near-dup pairs are a subset of brute-force pairs with exact cosines") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val centroids = Similarity.trainIvfCentroids(emb, "embedding", nLists = 16)
    val blocked = Similarity.embeddingNearDupPairsIvf(emb, centroids, 0.3)
      .select("a", "b", "cos").as[(Long, Long, Double)].collect().toSet
    // brute force over all pairs at the same threshold
    val x = emb.select(col("vec_id").as("a"), col("embedding").as("av"))
    val y = emb.select(col("vec_id").as("b"), col("embedding").as("bv"))
    val brute = x.crossJoin(y).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        graft.functions.VectorFunctions.cosine(col("av"), col("bv")).as("cos"))
      .filter(col("cos") >= 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(blocked.subsetOf(brute)) // blocking only removes, never invents
    assert(blocked.forall { case (_, _, c) => c >= 0.3 })
  }

  test("embeddingNearDupPairs respects the block column") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val labels = emb.select("vec_id", "label").as[(Long, Int)].collect().toMap
    val pairs = Similarity.embeddingNearDupPairs(emb, "label", 0.3)
      .select("a", "b").as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => labels(a) == labels(b) })
  }

  test("knn classification covers every held-out row exactly once") {
    val out = SparkEntry.queries("s_knn_classify")(spark, TestSpark.sfDir)
      .as[(Int, Int, Long)].collect()
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val u = graft.operators.Curation.uniform(col("vec_id"))
    val nTest = emb.filter(u < 0.1).count()
    assert(nTest > 0)
    // confusion-matrix mass = held-out rows: nobody dropped or counted twice
    assert(out.map(_._3).sum == nTest)
    // predicted labels come from the train label alphabet
    val trainLabels = emb.filter(u >= 0.1).select("label").distinct()
      .as[Int].collect().toSet
    assert(out.forall { case (_, p, _) => trainLabels.contains(p) })
  }

  test("LSH knn classification covers the held-out set and beats chance agreement (E4 scale tail)") {
    // s_knn_classify_lsh swaps E1's brute-force candidate stage for E2's
    // bucket equi-join and keeps the vote tail. On THIS corpus the
    // within-label structure is near-noise (see the IVF spec above:
    // within-label cosine ~0.02, true NN shares a label 7% of the time),
    // so exact-vs-ANN label agreement cannot be high for any bucketing —
    // the honest bounds are structural: (a) ≥80% of held-out rows get a
    // prediction (buckets are populated, nothing is silently dropped),
    // and (b) agreement with the exact path beats the chance baseline
    // (the candidate lists share real neighbors, not arbitrary rows).
    import graft.queries.SimilarityQueries
    val (te, tr) = SimilarityQueries.knnSplit(Tables.embeddings(spark, TestSpark.sfDir))
    val exact = SimilarityQueries.knnPredictions(te, tr,
      Similarity.bruteForceTopK(te, tr, 5))
    val approx = SimilarityQueries.knnPredictions(te, tr,
      Similarity.lshTopK(te, tr, 5, 64, 8))
    val nTest = te.count()
    val nApprox = approx.count()
    val agree = exact.as("e").join(approx.as("a"), "q")
      .filter(col("e.plabel") === col("a.plabel")).count()
    val nLabels = tr.select("label").distinct().count()
    assert(nApprox >= (nTest * 0.8).toLong,
      s"LSH path predicted $nApprox of $nTest held-out rows")
    assert(agree > nApprox / nLabels,
      s"LSH-exact agreement $agree/$nApprox at or below the 1/$nLabels chance baseline")
  }

  test("PQ codebooks beat the mean-only baseline in every subspace and assign deterministically (E10)") {
    val d = TestSpark.sfDir
    val out1 = SparkEntry.queries("s_pq_quantize")(spark, d).collect()
    assert(out1.length == 8)
    // 1-centroid baseline distortion per subspace = mean ||x - mean||²
    val emb = sources.Tables.embeddings(spark, d)
    out1.foreach { r =>
      val si = r.getAs[Int]("subspace")
      val sub = slice(col("embedding"), si * 8 + 1, 8).cast("array<double>")
      val withSub = emb.select(sub.as("s")).persist()
      val meanVec = (0 until 8).map(i =>
        withSub.agg(avg(col("s")(i))).head().getDouble(0))
      val baseline = withSub.select(
          graft.functions.VectorFunctions.l2sq(col("s"),
            typedlit(meanVec)).as("d2"))
        .agg(avg("d2")).head().getDouble(0)
      withSub.unpersist()
      val pq = r.getAs[Double]("distortion")
      assert(pq < baseline,
        s"subspace $si: PQ distortion $pq not below 1-centroid baseline $baseline")
      val used = r.getAs[Long]("codes_used")
      assert(used > 1 && used <= 16)
    }
    val out2 = SparkEntry.queries("s_pq_quantize")(spark, d).collect()
    assert(out1.map(_.toString).toSeq == out2.map(_.toString).toSeq,
      "PQ assignment must be deterministic across runs")
  }

  test("capped hybrid RRF tracks the exact path far above chance (E12 scale tail)") {
    // s_hybrid_rrf_capped swaps the exact keyword cross-fold for
    // truncated-posting retrieve-then-rescore and the exact cosine leg
    // for E2's LSH buckets, keeping the fusion tail. Bounds are
    // structural, like the E4x spec: (a) the capped path emits a full
    // top-5 for every probe the exact path ranks (candidates are never
    // silently empty); (b) per-probe top-5 overlap with the exact path
    // beats the ~1% chance baseline by an order of magnitude (measured
    // 48% mean at this scale; pinned at ≥25% for slack against corpus
    // regeneration, not run-to-run noise — both paths are
    // deterministic).
    val d = TestSpark.sfDir
    val exact = SparkEntry.queries("s_hybrid_rrf")(spark, d)
      .select("q", "d").collect().map(r => (r.getLong(0), r.getLong(1)))
    val capped = SparkEntry.queries("s_hybrid_rrf_capped")(spark, d)
      .select("q", "d").collect().map(r => (r.getLong(0), r.getLong(1)))
    val eBy = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cBy = capped.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(eBy.keySet == cBy.keySet,
      s"probe sets differ: exact ${eBy.keySet.size} vs capped ${cBy.keySet.size}")
    cBy.foreach { case (q, ds) => assert(ds.size == 5, s"probe $q emitted ${ds.size} rows") }
    val total = eBy.keys.toSeq.map(q => (eBy(q) & cBy(q)).size).sum
    val possible = eBy.values.map(_.size).sum
    assert(total >= (possible * 0.25).toInt,
      s"capped/exact top-5 overlap $total/$possible below the 25% floor")
  }
}
