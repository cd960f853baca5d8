package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Similarity search over embedding columns (SURVEY §2 E1-E3, D5).
  *
  * E1 brute force is the exactness baseline: probes × corpus cross join.
  * O(|Q|·N) — only sane for small probe sets; it exists to calibrate the
  * approximate paths. E2 buckets both sides by random-hyperplane LSH sign
  * bits so the join becomes an equi-join on bucket id: at 100 TB the
  * cross join disappears and each bucket is a small dense block (AQE
  * handles bucket skew). E3 is IVF: data-adaptive k-means coarse
  * centroids, inverted lists keyed by nearest centroid, probes search
  * only their `nProbe` nearest lists.
  */
object Similarity {

  /** E1 — exact top-k cosine neighbors for each probe row. */
  def bruteForceTopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val joined = probes.select(col("vec_id").as("q"), col("embedding").as("qv"))
      .crossJoin(corpus.select(col("vec_id").as("n"), col("embedding").as("nv")))
      .filter(col("q") =!= col("n"))
      .select(col("q"), col("n"),
        VectorFunctions.cosine(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy("q").orderBy(col("cos").desc, col("n"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q"), col("rank"), col("n"), col("cos"))
  }

  /** E2 — LSH-bucketed top-k: both sides keyed by hyperplane sign bucket,
    * neighbors searched only within the probe's bucket. */
  def lshTopK(probes: DataFrame, corpus: DataFrame, k: Int, dims: Int, nPlanes: Int): DataFrame = {
    val bucket = VectorFunctions.lshBucket(col("embedding"), dims, nPlanes)
    val pb = probes.select(col("vec_id").as("q"), col("embedding").as("qv"), bucket.as("bucket"))
    // r17 note: a corpus-side spread repartition before the bucket
    // projection was tried here (the embeddings parquet is one row
    // group, so the bucket compute runs on one task locally) and
    // REVERTED: it shuffles the full vector payload (§2.3) to fix a
    // local fixture-layout problem, and the sf10 subset bench measured
    // it a wash (s_knn_classify_lsh −0.7 s, s_ann_lsh +0.8 s). At scale
    // the corpus scan is many tasks and the spread is pure overhead.
    val cb = corpus.select(col("vec_id").as("n"), col("embedding").as("nv"), bucket.as("bucket"))
    val joined = pb.join(cb, "bucket")
      .filter(col("q") =!= col("n"))
      .select(col("q"), col("n"), VectorFunctions.cosine(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy("q").orderBy(col("cos").desc, col("n"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q"), col("rank"), col("n"), col("cos"))
  }

  /** E3 — train IVF coarse centroids with spark.ml KMeans (fixed seed).
    * At 100 TB this trains on a driver-bounded SAMPLE of the corpus (the
    * coarse quantizer needs cluster shapes, not every row); `sampleCap`
    * bounds the training set regardless of corpus size. Returns the
    * centroids as plain float arrays — small (nLists × dims), shipped to
    * executors as literals inside the assignment expression. */
  def trainIvfCentroids(corpus: DataFrame, vecCol: String, nLists: Int,
                        sampleCap: Long = 100000L, seed: Long = 42L): Array[Array[Float]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val n = corpus.count()
    val sampled =
      if (n <= sampleCap) corpus
      else corpus.sample(withReplacement = false, sampleCap.toDouble / n, seed)
    // Unit-normalize before training: L2 k-means on unit vectors is
    // spherical k-means, so the cosine-nearest centroid at query time is
    // the centroid that owned the vector in training. The normalization
    // runs through the native graft_unit_f32 expression (bit-identical to
    // the HOF unit() chain — SimilaritySpec; the HOF form paid O(d²)
    // interpreted lambdas per row, 29 s at sf10), and the projected
    // features persist across KMeans' init + iteration passes (sf10
    // stage profile: the UNCACHED expression was evaluated three times).
    // No repartition here: the training partition layout feeds the
    // seeded k-means|| init, so spreading it would change the (rows-only)
    // centroids — the native expression keeps them bit-identical instead.
    val feats = sampled.select(array_to_vector(
        call_function("graft_unit_f32", col(vecCol).cast("array<float>")))
      .as("features"))
      .persist()
    // A coarse quantizer needs rough cluster shapes, not convergence —
    // 10 iterations caps the per-iteration job overhead that dominates
    // training cost at any corpus size (the data per iteration is tiny).
    val centers = new KMeans().setK(nLists).setSeed(seed).setMaxIter(10)
      .fit(feats).clusterCenters
    feats.unpersist()
    centers.map { c =>
        // Re-normalize each centroid: on unit centroids, cosine-argmax ==
        // L2-argmin on the unit sphere, so query-time assignment matches
        // the training partition (plain mean centroids sit inside the
        // sphere with varying norms, which skews a cosine argmax).
        val a = c.toArray
        val nrm = math.sqrt(a.map(x => x * x).sum)
        a.map(x => (x / nrm).toFloat)
      }
  }

  /** E10 — train product-quantization codebooks: the vector is split into
    * `m` contiguous subspaces and each gets its own `ksub`-centroid
    * KMeans codebook (fixed per-subspace seed), so a d-dim float vector
    * compresses to m small codes (m·log2(ksub) bits) while distances
    * decompose into per-subspace table lookups — the standard
    * memory-bound ANN compression (IVF-PQ's second stage). Same
    * driver-bounded sampling contract as [[trainIvfCentroids]]: codebook
    * shapes need a sample, not the corpus, and the returned
    * m × ksub × (d/m) float array ships to executors as literals. */
  def trainPqCodebooks(corpus: DataFrame, vecCol: String, dims: Int, m: Int,
                       ksub: Int, sampleCap: Long = 100000L,
                       seed: Long = 42L): Array[Array[Array[Float]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(dims % m == 0, s"dims $dims must split evenly into $m subspaces")
    val dsub = dims / m
    val n = corpus.count()
    val sampled =
      if (n <= sampleCap) corpus
      else corpus.sample(withReplacement = false, sampleCap.toDouble / n, seed)
    val subCols = (0 until m).map(si =>
      array_to_vector(slice(col(vecCol), si * dsub + 1, dsub).cast("array<float>"))
        .as(s"sub$si"))
    // one pass materializes every subspace's training column together
    val subs = sampled.select(subCols: _*).persist()
    subs.count()
    try (0 until m).toArray.map { si =>
      new KMeans().setK(ksub).setSeed(seed + si).setMaxIter(10)
        .setFeaturesCol(s"sub$si")
        .fit(subs).clusterCenters
        .map(_.toArray.map(_.toFloat))
    } finally subs.unpersist()
  }

  /** Nearest-centroid ids for a vector, best first. The per-centroid
    * cosine runs through the codegen expression against LITERAL centroid
    * arrays — no weight-matrix join or broadcast variable; ties break to
    * the lower list id deterministically. */
  private def nearestLists(v: Column, centroids: Array[Array[Float]], nProbe: Int): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(VectorFunctions.cosine(v, typedlit(c)).as("cos"), lit(-i).as("negid"))
    }
    val top = slice(sort_array(array(scored.toIndexedSeq: _*), asc = false), 1, nProbe)
    transform(top, s => -s.getField("negid"))
  }

  /** E3 — IVF top-k: corpus rows live in the inverted list of their
    * nearest centroid; each probe searches its `nProbe` nearest lists.
    * The join is an equi-join on list id (no cross join anywhere), and
    * list skew is AQE's bread and butter. Recall vs E1 rises with
    * `nProbe` — the standard IVF quality/cost dial. */
  def ivfTopK(probes: DataFrame, corpus: DataFrame, k: Int,
              centroids: Array[Array[Float]], nProbe: Int): DataFrame = {
    val cb = corpus.select(col("vec_id").as("n"), col("embedding").as("nv"),
      nearestLists(col("embedding"), centroids, 1)(0).as("list"))
    val pb = probes.select(col("vec_id").as("q"), col("embedding").as("qv"),
      explode(nearestLists(col("embedding"), centroids, nProbe)).as("list"))
    val joined = pb.join(cb, "list")
      .filter(col("q") =!= col("n"))
      .select(col("q"), col("n"), VectorFunctions.cosine(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy("q").orderBy(col("cos").desc, col("n"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q"), col("rank"), col("n"), col("cos"))
  }

  /** D5 production path — near-dup pairs blocked by a REAL clustering
    * pre-pass: IVF lists from [[trainIvfCentroids]] instead of a given
    * label column. Same per-block verification as [[embeddingNearDupPairs]];
    * recall is bounded by co-assignment (raise nLists granularity or run
    * multiple seeds to push it), and the quadratic term is bounded by the
    * largest list, not the corpus. */
  def embeddingNearDupPairsIvf(emb: DataFrame, centroids: Array[Array[Float]],
                               threshold: Double): DataFrame = {
    val listed = emb.select(col("vec_id"), col("embedding"),
      nearestLists(col("embedding"), centroids, 1)(0).as("__blk"))
    embeddingNearDupPairs(listed, "__blk", threshold)
  }

  /** D5 — near-duplicate pairs by cosine ≥ threshold, blocked by a
    * coarse partition column (here: the label/cluster id — at scale this
    * is the output of a clustering/LSH pre-pass, so the quadratic blowup
    * is bounded per block). */
  def embeddingNearDupPairs(emb: DataFrame, blockCol: String, threshold: Double): DataFrame = {
    // Spread the probe side before the block join: the build side is
    // block-dim and broadcasts, so the pair fan-out runs at the PROBE
    // side's parallelism — which a single-row-group embedding store
    // pins to one task (r16 sf10: 14 s in 1 task). Round-robin is
    // result-safe: the join emits a pair set with per-row cosines, no
    // order- or partition-dependent aggregate anywhere downstream.
    val fan = emb.sparkSession.sparkContext.defaultParallelism
    val x = emb.select(col("vec_id").as("a"), col("embedding").as("av"), col(blockCol).as("blk"))
      .repartition(fan)
    val y = emb.select(col("vec_id").as("b"), col("embedding").as("bv"), col(blockCol).as("blk"))
    x.join(y, "blk")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), VectorFunctions.cosine(col("av"), col("bv")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }
}
