package graft.queries

import org.apache.spark.sql.functions._
import graft.ml.Regression
import graft.multimodal.Multimodal
import graft.sources.Tables

/** SURVEY §2 group F (batch-checkable parts) — ML regression (F2/F3) and
  * multimodal binary plumbing (F4).
  */
object MlQueries {

  /** Shared oracle CTE: decimal-exact OLS sufficient statistics for
    * y = l_extendedprice on x = l_quantity, then closed-form fit. */
  // Decimal moments exit to DOUBLE through the VARCHAR round-trip: syy's
  // unscaled value crosses 2^53 at every shipped sf, where DuckDB's direct
  // DECIMAL→DOUBLE cast double-rounds (q_anova / r9-ADVICE class) while
  // text→double is correctly rounded, matching Spark's BigDecimal path.
  private val olsCte =
    """a AS (SELECT count(*) AS n,
      |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(sum(CAST(l_quantity*l_extendedprice AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sxy,
      |  CAST(CAST(sum(CAST(l_quantity*l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(sum(CAST(l_extendedprice*l_extendedprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM lineitem),
      |f AS (SELECT n, (n*sxy - sx*sy)/(n*sxx - sx*sx) AS slope, sx, sy, sxx, sxy, syy FROM a)""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // F2 — single-feature OLS in closed form from exact aggregates
    // (one partial-aggregated scan; the whole "fit" is a 6-value agg).
    QueryDef.sql("m_linreg",
      s"""WITH $olsCte
         |SELECT n, slope, (sy - slope*sx)/n AS intercept,
         |  ((n*sxy - sx*sy)*(n*sxy - sx*sy)) /
         |  ((n*sxx - sx*sx)*(n*syy - sy*sy)) AS r2
         |FROM f""".stripMargin) { (s, d) =>
      Regression.exactOls(Tables.lineitem(s, d), "l_quantity", "l_extendedprice")
    },

    // F3 — RMSE of the fitted line (RegressionEvaluator semantics) in
    // CLOSED FORM over the fit's own sufficient statistics:
    // Σr² = Σy² − 2aΣy − 2bΣxy + na² + 2abΣx + b²Σx². No residual scan
    // at all (the old fused plan re-read lineitem to decimal-sum per-row
    // residual squares — a computed-DOUBLE→DECIMAL(38,8) re-entry DuckDB
    // does not round correctly, the q_anova class), and one fixed double
    // op sequence both engines share (Regression.exactRmseFitted).
    QueryDef.sql("m_regression_eval",
      s"""WITH $olsCte,
         |s AS (SELECT n, slope, (sy - slope*sx)/n AS intercept,
         |        sx, sy, sxx, sxy, syy FROM f)
         |SELECT sqrt((syy - ((2*intercept)*sy) - ((2*slope)*sxy)
         |    + ((CAST(n AS DOUBLE)*intercept)*intercept)
         |    + (((2*intercept)*slope)*sx) + ((slope*slope)*sxx))
         |    / n) AS rmse, n
         |FROM s""".stripMargin) { (s, d) =>
      Regression.exactRmseFitted(Tables.lineitem(s, d), "l_quantity", "l_extendedprice")
        .select(col("rmse"), col("n"))
    },

    // F2 production path — spark.ml multi-feature fit (iterative-free
    // normal solver); estimator output ⇒ rows-only driver check, exact
    // agreement with the closed form is asserted in RegressionSpec.
    QueryDef.rowsOnly("m_linreg_ml") { (s, d) =>
      import s.implicits._
      val li = Tables.lineitem(s, d)
      val model = Regression.fitMl(li, Seq("l_quantity", "l_discount"), "l_extendedprice")
      Seq((model.coefficients(0), model.coefficients(1), model.intercept))
        .toDF("coef_quantity", "coef_discount", "intercept")
    },

    // F6 — k-means clustering surfaced as a first-class query: spherical
    // k-means over the embeddings (the IVF coarse quantizer's trainer,
    // fixed seed), reported as per-cluster size + mean cosine distance to
    // the owning centroid — the cluster-quality report a corpus
    // partitioning run ends with. Estimator output ⇒ rows-only driver
    // check; the training/assignment consistency is spec-bound in
    // SimilaritySpec (same trainer, same assignment rule as E3). The
    // assignment is a codegen'd argmax over LITERAL centroids — scoring
    // 100 TB of vectors is a narrow projection, no join, no broadcast
    // variable; ties break to the lower cluster id.
    QueryDef.rowsOnly("m_kmeans") { (s, d) =>
      import graft.operators.Similarity
      import graft.functions.VectorFunctions
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.trainIvfCentroids(emb, "embedding", 8)
      val scored = cents.zipWithIndex.map { case (c, i) =>
        struct(VectorFunctions.cosine(col("embedding"), typedlit(c)).as("cos"),
          lit(-i).as("negid"))
      }
      emb.select(array_max(array(scored.toIndexedSeq: _*)).as("best"))
        .select((-col("best.negid")).cast("int").as("cluster"),
          (lit(1.0) - col("best.cos")).as("dist"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"), avg("dist").as("mean_cos_dist"))
        .orderBy("cluster")
    },

    // F4 — multimodal binary metadata via the batched mapPartitions decode
    // stub (UTF-8 text bytes stand in for the image payload).
    QueryDef.sql("mm_binary_meta",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CAST(16 + ascii(substr(text, 1, 1)) % 64 AS INT) AS width,
        |  CAST(16 + ascii(substr(text, 2, 1)) % 64 AS INT) AS height,
        |  CASE ascii(substr(text, 1, 1)) % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
        |       ELSE 'webp' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.decodeStub(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // F4b — frame sampling over the binary payload (video decimation):
    // every 4th 16-byte frame, sliced declaratively (offset arithmetic
    // needs no codec, so no mapPartitions — pure codegen, narrow). The
    // oracle re-slices the same bytes with range+substring; frame hashes
    // prove byte-exact agreement. ASCII corpus ⇒ char offsets = byte
    // offsets on both sides.
    QueryDef.sql("mm_frame_sample",
      """SELECT doc_id, i AS frame_no, CAST(16 AS BIGINT) AS frame_len,
        |       md5(substring(text, CAST(i * 16 + 1 AS INT), 16)) AS frame_sig
        |FROM (
        |  SELECT doc_id, text, unnest(range(0, CAST(floor(length(text) / 16) AS BIGINT), 4)) AS i
        |  FROM documents WHERE length(text) >= 16)
        |ORDER BY doc_id, frame_no""".stripMargin) { (s, d) =>
      Multimodal.frameSample(Tables.documents(s, d), "doc_id", "text",
          frameBytes = 16, everyK = 4)
        .orderBy("doc_id", "frame_no")
    },

    // F5 — deterministic train/val/test split (80/10/10): the split is a
    // pure hash of the row key (Curation's md5-fraction trick), so it is
    // reproducible on any engine/partitioning/re-run and rows never leak
    // between splits as data grows. Output = split × label counts — the
    // leakage/imbalance audit a training run starts with. Zero shuffle
    // for the split itself; one partial-agg groupBy for the report.
    QueryDef.sql("m_train_test_split", {
      val u = graft.operators.Curation.uniformDuck("vec_id")
      s"""WITH s AS (SELECT label,
         |  CASE WHEN $u < 0.8 THEN 'train'
         |       WHEN $u < 0.9 THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM embeddings)
         |SELECT split, label, count(*) AS n FROM s GROUP BY 1,2
         |ORDER BY 1,2""".stripMargin
    }) { (s, d) =>
      val u = graft.operators.Curation.uniform(col("vec_id"))
      Tables.embeddings(s, d)
        .select(col("label"),
          when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").as("split"))
        .groupBy("split", "label").agg(count(lit(1)).as("n"))
        .orderBy("split", "label")
    },

    // F5b — deterministic 5-fold cross-validation assignment (F5's
    // md5-fraction machinery, folded): fold k's heldout set is the rows
    // with floor(u·5)=k, its train set is everything else. The report per
    // fold: heldout/train sizes and the distinct labels present in the
    // heldout slice (every fold must see every class, or CV metrics on
    // the missing class are undefined). Assignment is a zero-shuffle
    // narrow map; the report is one k-row aggregate × one scalar
    // broadcast. Reproducible on any engine/partitioning, stable as data
    // grows (a row's fold never changes when the corpus does).
    QueryDef.sql("m_kfold", {
      val u = graft.operators.Curation.uniformDuck("vec_id")
      s"""WITH f AS (SELECT CAST(floor($u * 5) AS BIGINT) AS fold, label FROM embeddings),
         |t AS (SELECT count(*) AS total FROM embeddings)
         |SELECT fold, count(*) AS n_heldout,
         |  CAST(any_value(t.total) - count(*) AS BIGINT) AS n_train,
         |  count(DISTINCT label) AS n_labels
         |FROM f, t GROUP BY fold ORDER BY fold""".stripMargin
    }) { (s, d) =>
      val u = graft.operators.Curation.uniform(col("vec_id"))
      val emb = Tables.embeddings(s, d)
      val total = emb.agg(count(lit(1)).as("total"))
      emb.select(floor(u * 5).cast("long").as("fold"), col("label"))
        .crossJoin(broadcast(total))
        .groupBy("fold")
        .agg(count(lit(1)).as("n_heldout"),
          (first("total") - count(lit(1))).cast("long").as("n_train"),
          count_distinct(col("label")).as("n_labels"))
        .orderBy("fold")
    },

    // F6 — inverse-frequency class weights (total / (k·n_class)): the
    // class-balance correction for a skewed label column. A k-row
    // aggregate joined against one scalar row — everything broadcast,
    // one double division per class.
    QueryDef.sql("m_class_weights",
      """WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS DOUBLE) AS total,
        |             CAST(count(DISTINCT label) AS DOUBLE) AS k FROM embeddings)
        |SELECT label, n, CAST(total / (k * n) AS DOUBLE) AS weight
        |FROM c, t ORDER BY label""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val c = emb.groupBy("label").agg(count(lit(1)).as("n"))
      val t = emb.agg(count(lit(1)).cast("double").as("total"),
        count_distinct(col("label")).cast("double").as("k"))
      c.crossJoin(broadcast(t))
        .select(col("label"), col("n"),
          (col("total") / (col("k") * col("n"))).cast("double").as("weight"))
        .orderBy("label")
    },

    // F7 — feature hashing (the hashing trick): tokens land in 64 buckets
    // by md5-derived id, reported as the global bucket histogram (load
    // check for a hashed feature space). The doc→bucket path is a
    // projection (explode + hash mod); the histogram is one bounded-key
    // partial agg. Same md5-60-bit ids as the dedup family (SURVEY §4
    // rule 6), so parity needs no vocabulary build.
    QueryDef.sql("m_feature_hash", {
      val toks = graft.functions.TextFunctions.tokensDuck("text")
      val gid = graft.operators.Dedup.hashedGidDuck("tok")
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS tok FROM documents)
         |SELECT $gid % 64 AS bucket,
         |  count(*) AS n_tokens, count(DISTINCT doc_id) AS n_docs
         |FROM tok GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (s, d) =>
      // Dictionary-encode before hashing (the r11 sf1 lesson — this row
      // scaled 26×): the md5 feature hash is a pure function of the TOKEN,
      // so hashing every occurrence does |corpus| md5+hex decodes where
      // |vocabulary| suffice. Aggregate to the (tok, doc) grain first
      // (map-side combine collapses repeats — the minimal exact grain,
      // since bucket-level n_docs must count a doc once however many of
      // its tokens share the bucket), hash once per DISTINCT token, and
      // broadcast the vocabulary-sized tok→bucket map back on.
      // One scan, bucket computed per occurrence (a stage profile
      // showed the previous dictionary-encode shape tokenizing the
      // single-file corpus in ONE 12 s task, twice). r16 second half:
      // the tokenize pass itself is now the staged doc_tok_cnt grain —
      // per-occurrence bucket counts are Σk over its (doc, tok) rows
      // (identical integers), the md5 bucket is a per-row projection
      // over the vocabulary-incidence table, and the only wide shuffle
      // carries (bucket, doc_id) pairs after the ≤64-rows-per-doc
      // map-side partial collapse.
      graft.queries.StagedTables.docTokCnt(s, d)
        .select(col("doc_id"),
          (graft.operators.Dedup.hashedGid(col("tok")) % 64).as("bucket"),
          col("k"))
        .groupBy("bucket", "doc_id").agg(sum("k").as("c"))
        .groupBy("bucket")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_docs"))
        .orderBy("bucket")
    },

    // F9 — exact ROC-AUC (Mann-Whitney U form) of `value` as a score for
    // predicting purchase events. Ranks come from the A1 surrogate-key
    // machinery (range-partition + per-partition row_number + offsets) —
    // NEVER a single-partition global rank window; ties collapse to the
    // per-score average rank via a (min_rank, count) aggregate, so the
    // tie-handling is the textbook averaged-rank U. Rank sums are exact
    // (.5 increments in double, far below 2^53). The oracle computes the
    // identical statistic through DuckDB's rank() window.
    QueryDef.sql("m_auc",
      """WITH s AS (SELECT value AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |r AS (SELECT y, rank() OVER (ORDER BY score) AS rk,
        |    count(*) OVER (PARTITION BY score) AS nt FROM s),
        |a AS (SELECT sum(CASE WHEN y = 1 THEN rk + (nt-1)/2.0 END) AS rpos,
        |    CAST(sum(y) AS BIGINT) AS npos, count(*) AS n FROM r)
        |SELECT npos, n - npos AS nneg,
        |  (rpos - npos*(npos+1)/2.0) / (npos * (n - npos)) AS auc
        |FROM a""".stripMargin) { (s, d) =>
      import graft.operators.Relational
      val sc = Tables.events(s, d).select(col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      // dense 0-based ids ordered by score ⇒ rank = rid + 1
      val ranked = Relational.surrogateKey(sc, "rid", Seq(col("score")))
      val perScore = ranked.groupBy("score")
        .agg((min(col("rid")) + 1L).as("minrk"), count(lit(1)).as("nt"),
          sum(col("y")).as("npos_s"))
      perScore.agg(
          sum(col("npos_s") * (col("minrk") + (col("nt") - 1L) / lit(2.0))).as("rpos"),
          sum("npos_s").as("npos"), sum("nt").as("n"))
        .select(col("npos"), (col("n") - col("npos")).as("nneg"),
          ((col("rpos") - col("npos") * (col("npos") + 1L) / lit(2.0)) /
            (col("npos") * (col("n") - col("npos")))).as("auc"))
    },

    // F10 — calibration curve for the F9 scorer: scores bucketed into 10
    // fixed-width bins over the global score range (B18's identical-double
    // bin arithmetic), per bin the count, exact-DECIMAL mean score, and
    // positive rate. AUC says the ranking is good; calibration says
    // whether the score VALUES mean what they claim — both are needed
    // before a score gates anything. One broadcast bounds row + one
    // 10-key partial agg, the same scale shape as B18/B39.
    QueryDef.sql("m_calibration",
      """WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
        |s AS (SELECT CAST(least(floor((value - mn) * 10.0 / (mx - mn)), 9) AS BIGINT) AS bin,
        |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y, value
        |      FROM events CROSS JOIN b)
        |SELECT bin, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean_score,
        |  CAST(sum(y) AS DOUBLE) / count(*) AS pos_rate
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val b = ev.agg(min("value").as("mn"), max("value").as("mx"))
      ev.crossJoin(broadcast(b))
        .select(
          least(floor((col("value") - col("mn")) * 10.0 / (col("mx") - col("mn"))), lit(9))
            .cast("long").as("bin"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
          col("value"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          (sum(col("value").cast("decimal(18,2)")).cast("double") / count(lit(1)))
            .as("mean_score"),
          (sum("y").cast("double") / count(lit(1))).as("pos_rate"))
        .orderBy("bin")
    },

    // F12 — leading principal component of the embedding store
    // (ml.Pca): distributed covariance (one batched per-partition
    // Gram-accumulation pass + treeReduce — data-scale work is ONE scan
    // regardless of dims²), power iteration on the driver over the
    // corpus-size-independent 64×64 matrix, sign pinned for exact
    // reproducibility. Iterative spectral method ⇒ rows-only; the
    // eigenpair residual ‖Av − λv‖ and unit norm are spec'd (MlSpec via
    // SimilaritySpec's session).
    QueryDef.rowsOnly("m_pca_power") { (s, d) =>
      import s.implicits._
      val (lambda, v) = graft.ml.Pca.leadingComponent(
        Tables.embeddings(s, d), "embedding")
      v.zipWithIndex.map { case (x, i) => (i, x, lambda) }.toSeq
        .toDF("dim", "loading", "eigenvalue")
        .orderBy("dim")
    },

    // F11 — per-class precision / recall / F1 from the E4 confusion
    // matrix (the eval every classifier report ends with). The matrix is
    // classes² rows, so everything here is report-sized; the F1 closed
    // form 2·TP/(pred_total + true_total) keeps it to ONE division per
    // metric (no chained P·R arithmetic to drift). Classes never
    // predicted get NULL precision — honest, not zero.
    QueryDef.sql("m_confusion_metrics",
      s"""WITH ${SimilarityQueries.knnConfusionCte},
         |cls AS (SELECT DISTINCT true_label AS label FROM cm
         |        UNION SELECT DISTINCT pred_label FROM cm),
         |t AS (SELECT label,
         |  coalesce((SELECT sum(n) FROM cm WHERE true_label = label AND pred_label = label), 0) AS tp,
         |  coalesce((SELECT sum(n) FROM cm WHERE true_label = label), 0) AS n_true,
         |  coalesce((SELECT sum(n) FROM cm WHERE pred_label = label), 0) AS n_pred
         |  FROM cls)
         |SELECT label, CAST(tp AS BIGINT) AS tp,
         |  CAST(n_true AS BIGINT) AS n_true, CAST(n_pred AS BIGINT) AS n_pred,
         |  CAST(tp AS DOUBLE) / nullif(n_pred, 0) AS prec,
         |  CAST(tp AS DOUBLE) / nullif(n_true, 0) AS recall,
         |  2.0 * tp / nullif(n_pred + n_true, 0) AS f1
         |FROM t ORDER BY label""".stripMargin) { (s, d) =>
      // the test×train kNN stage is the staged shared confusion matrix
      // (StagedTables.knnCm — built once, three metric consumers); this
      // query is label-dimension arithmetic over that tiny parquet
      val cm = StagedTables.knnCm(s, d)
      val trueAgg = cm.groupBy(col("true_label").as("label")).agg(sum("n").as("n_true"))
      val predAgg = cm.groupBy(col("pred_label").as("label")).agg(sum("n").as("n_pred"))
      val tp = cm.filter(col("true_label") === col("pred_label"))
        .select(col("true_label").as("label"), col("n").as("tp"))
      trueAgg.join(predAgg, Seq("label"), "full_outer")
        .join(tp, Seq("label"), "left")
        .select(col("label"),
          coalesce(col("tp"), lit(0L)).as("tp"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"))
        .select(col("label"), col("tp"), col("n_true"), col("n_pred"),
          (col("tp").cast("double") / nullif(col("n_pred"), lit(0))).as("prec"),
          (col("tp").cast("double") / nullif(col("n_true"), lit(0))).as("recall"),
          (lit(2.0) * col("tp") / nullif(col("n_pred") + col("n_true"), lit(0))).as("f1"))
        .orderBy("label")
    },

    // F13 — multinomial naive Bayes language classifier, trained and
    // evaluated in one batch plan: F5's deterministic hash split (30%
    // held out), Laplace-1 token likelihoods from the train fold,
    // argmax posterior per test doc, confusion-matrix output. Every
    // model artifact is vocabulary-sized and broadcast — per-(lang,tok)
    // counts, per-lang totals, priors, |V| — so scoring is a broadcast
    // join over the exploded test fold followed by one (doc, class)
    // partial agg: the layout a 100 TB corpus scores with (the model
    // never shuffles, the corpus shuffles once, by doc). Test tokens
    // outside the train vocabulary are dropped (standard NB semantics),
    // identically on both engines. Only the argmax class is emitted —
    // log-likelihood sums are doubles, but class scores differ by O(1),
    // so accumulation-order noise (~1e-13 relative) cannot flip a
    // prediction; ties break on class name.
    QueryDef.sql("m_naive_bayes", {
      import graft.functions.TextFunctions
      val toksSql = TextFunctions.tokensDuck("text")
      val u = graft.operators.Curation.uniformDuck("doc_id")
      s"""WITH base AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |tr AS (SELECT * FROM base WHERE $u >= 0.3),
         |te AS (SELECT * FROM base WHERE $u < 0.3),
         |trt AS (SELECT lang, unnest(toks) AS tok FROM tr),
         |ltc AS (SELECT lang, tok, count(*) AS k FROM trt GROUP BY 1, 2),
         |ltot AS (SELECT lang, sum(k) AS t FROM ltc GROUP BY 1),
         |vocab AS (SELECT count(DISTINCT tok) AS v FROM trt),
         |prior AS (SELECT lang, count(*) AS nd FROM tr GROUP BY 1),
         |ndoc AS (SELECT count(*) AS nd_all FROM tr),
         |vt AS (SELECT DISTINCT tok FROM trt),
         |tet AS (SELECT doc_id, true_lang, tok, count(*) AS k FROM
         |          (SELECT doc_id, lang AS true_lang, unnest(toks) AS tok FROM te)
         |        GROUP BY 1, 2, 3),
         |cand AS (SELECT t.doc_id, t.true_lang, t.k, c.lang AS class,
         |           coalesce(ltc.k, 0) AS kc
         |         FROM tet t JOIN vt ON vt.tok = t.tok
         |         CROSS JOIN (SELECT lang FROM prior) c
         |         LEFT JOIN ltc ON ltc.lang = c.lang AND ltc.tok = t.tok),
         |cand2 AS (SELECT doc_id, true_lang, k, class, (kc + 1.0) / (t + v) AS pr
         |         FROM cand JOIN ltot ON ltot.lang = cand.class CROSS JOIN vocab),
         |sc AS (SELECT doc_id, true_lang, class,
         |         sum(k * ${graft.functions.PortableMath.lnSql("pr")}) AS ll
         |       FROM cand2 GROUP BY 1, 2, 3),
         |pri AS (SELECT lang,
         |          ${graft.functions.PortableMath.lnSql("(CAST(nd AS DOUBLE) / nd_all)")} AS lnprior
         |        FROM prior CROSS JOIN ndoc),
         |pred AS (SELECT doc_id, true_lang, class AS pred_lang,
         |           row_number() OVER (PARTITION BY doc_id ORDER BY
         |             p.lnprior + sc.ll DESC, class) AS rn
         |         FROM sc JOIN pri p ON p.lang = sc.class)
         |SELECT true_lang, pred_lang, count(*) AS n
         |FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }) { (s, d) =>
      val u = graft.operators.Curation.uniform(col("doc_id"))
      // Tokenize ZERO times (r17): every count this query needs is a
      // rollup of the staged tokenize-once doc_tok_cnt grain — per-(doc,
      // tok) occurrence counts are identical integers to exploding
      // tokens(text), and the staged rows carry `lang`, so the class
      // counts need NO doc-dim join (a join here broadcast the 11M-row
      // count side — its parquet sits under the 64 MB estimate — paying a
      // multi-second driver hash-build; the join-free rollup is also the
      // right 100 TB shape: one pass, no alignment). The split predicate
      // u(doc_id) is a pure hash of the key, computable on any grain.
      // The r16 shape re-tokenized the 500 MB corpus into a checkpoint
      // per run (sf10 profile: 2.3 s repartition+tokenize, then two
      // 500 MB cache passes); this reads the 65 MB count grain twice.
      val dtc = StagedTables.docTokCnt(s, d).withColumn("__u", u)
      // The vocabulary-sized (lang, tok) count table, pinned — the model
      // pivot, |V|, and the class stats all derive from it. Σk over the
      // per-doc counts == counting the exploded occurrence stream.
      val ltc = dtc.filter(col("__u") >= 0.3)
        .groupBy("lang", "tok").agg(sum("k").as("k"))
        .localCheckpoint(true)
      // Class list, per-class token totals and doc priors are
      // class-count-sized — collected once to the driver (the dim-sized
      // PCA collect precedent) so the model compiles into ONE vocab-row
      // table carrying a fixed-width per-class log-prob array, and the
      // per-(doc,class) argmax becomes a scalar projection instead of a
      // window over a doc×class fan-out. Per-class totals and the global
      // |V| share ONE rollup action over the pinned ltc (the grand-total
      // row's distinct-tok count IS |V|) — r10's profile pass flagged the
      // stage-count overhead of running these as separate jobs; the prior
      // collect stays its own (report-sized) action because it aggregates
      // the doc grain, not the (lang, tok) grain.
      // grouping("lang") disambiguates the rollup grand-total row from a
      // genuine NULL lang class — isNullAt alone would conflate the two
      // (latent here: testdata lang is non-null, but the operator
      // shouldn't depend on that).
      val stats = ltc.rollup("lang")
        .agg(sum("k").as("t"), countDistinct("tok").as("vd"),
          grouping(col("lang")).cast("int").as("g")).collect()
      val ltot = stats.filter(_.getInt(3) == 0)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val v = stats.filter(_.getInt(3) == 1).head.getLong(2)
      // Priors count train DOCS (zero-token docs included, which the
      // token grain cannot see) — one doc-grain rollup over the spread
      // corpus copy (32-way scan of two pruned columns).
      val prior = StagedTables.docsSpread(s, d)
        .select(col("doc_id"), col("lang"))
        .filter(u >= 0.3)
        .groupBy("lang").agg(count(lit(1)).as("nd")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val classes = prior.keys.toSeq.sorted
      val ndAll = prior.values.sum
      // tok → [ln P(tok|class)] for each class, Laplace-smoothed exactly
      // as the oracle: ln((kc + 1) / (t_class + |V|)). Vocabulary-sized;
      // the scoring join is left to the threshold + AQE (broadcast while
      // the vocab fits, shuffle when it outgrows — the engine-wide rule).
      val model = ltc.groupBy("tok").pivot("lang", classes).agg(first("k"))
        .select(col("tok"), array(classes.map(c =>
          graft.functions.PortableMath.pLn(
            (coalesce(col(s"`$c`"), lit(0L)) + 1.0) / (ltot(c) + v))): _*).as("lp"))
      // Score: per-(doc,tok) counts (k·ln form, matching the oracle's
      // arithmetic) are ALREADY the doc_tok_cnt grain — filter to the
      // test fold, then the model probe and per-doc per-class sums as
      // |C| parallel aggregates.
      val tet = dtc.filter(col("__u") < 0.3)
        .select(col("doc_id"), col("lang").as("true_lang"), col("tok"), col("k"))
      val llCols = classes.indices.map(i =>
        sum(col("k") * element_at(col("lp"), i + 1)).as(s"ll_$i"))
      val perDoc = tet.join(model, "tok")
        .groupBy("doc_id", "true_lang")
        .agg(llCols.head, llCols.tail: _*)
      // argmax(prior + ll) with ties to the lexicographically first class:
      // classes is sorted, and array_position returns the FIRST max —
      // the oracle's (score DESC, class ASC) row_number ordering.
      val scores = array(classes.zipWithIndex.map { case (c, i) =>
        lit(graft.functions.PortableMath.lnScalar(prior(c).toDouble / ndAll)) + col(s"ll_$i") }: _*)
      val classArr = array(classes.map(lit(_)): _*)
      perDoc
        .select(col("true_lang"),
          element_at(classArr, array_position(scores, array_max(scores)).cast("int"))
            .as("pred_lang"))
        .groupBy("true_lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("true_lang", "pred_lang")
    },

    // F14 — decision stump (1-level tree) for returned-vs-kept on line
    // price: the exact best split by weighted Gini over BINNED candidate
    // thresholds — B60's binning discipline makes split search one
    // integer-bin partial agg (the only data-scale stage) + a cumulative
    // window over ~100 bins. Gini terms are fixed closed-form doubles
    // over exact cumulative integer counts, so the argmin compares
    // bit-identical values; ties break on the lower bin. Output: the
    // split, its class balance, and the root impurity it improves on.
    QueryDef.sql("m_decision_stump",
      """WITH b AS (
        |  SELECT CAST(floor(l_extendedprice/1000.0) AS BIGINT) AS bin,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS pos,
        |    sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS neg
        |  FROM lineitem WHERE l_returnflag IN ('R','N') GROUP BY 1),
        |t AS (SELECT sum(pos) AS tp, sum(neg) AS tn FROM b),
        |c AS (SELECT bin, sum(pos) OVER (ORDER BY bin) AS cp,
        |             sum(neg) OVER (ORDER BY bin) AS cn FROM b),
        |g AS (SELECT bin, cp, cn, tp, tn,
        |        (CAST(cp + cn AS DOUBLE) / (tp + tn))
        |          * (1.0 - (CAST(cp AS DOUBLE)/(cp+cn))*(CAST(cp AS DOUBLE)/(cp+cn))
        |                 - (CAST(cn AS DOUBLE)/(cp+cn))*(CAST(cn AS DOUBLE)/(cp+cn)))
        |      + (CAST((tp-cp) + (tn-cn) AS DOUBLE) / (tp + tn))
        |          * (1.0 - (CAST(tp-cp AS DOUBLE)/((tp-cp)+(tn-cn)))*(CAST(tp-cp AS DOUBLE)/((tp-cp)+(tn-cn)))
        |                 - (CAST(tn-cn AS DOUBLE)/((tp-cp)+(tn-cn)))*(CAST(tn-cn AS DOUBLE)/((tp-cp)+(tn-cn)))) AS wg
        |      FROM c CROSS JOIN t WHERE (tp-cp) + (tn-cn) > 0)
        |SELECT CAST((bin + 1) * 1000 AS DOUBLE) AS threshold,
        |  CAST(cp + cn AS BIGINT) AS n_left, CAST((tp-cp)+(tn-cn) AS BIGINT) AS n_right,
        |  wg AS split_gini,
        |  1.0 - (CAST(tp AS DOUBLE)/(tp+tn))*(CAST(tp AS DOUBLE)/(tp+tn))
        |      - (CAST(tn AS DOUBLE)/(tp+tn))*(CAST(tn AS DOUBLE)/(tp+tn)) AS root_gini
        |FROM g ORDER BY wg, bin LIMIT 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val b = Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("R", "N"))
        .groupBy(floor(col("l_extendedprice") / 1000.0).cast("long").as("bin"))
        .agg(sum(when(col("l_returnflag") === "R", 1).otherwise(0)).as("pos"),
          sum(when(col("l_returnflag") === "N", 1).otherwise(0)).as("neg"))
      val t = b.agg(sum("pos").as("tp"), sum("neg").as("tn"))
      val w = Window.orderBy("bin")
      val c = b.select(col("bin"),
        sum("pos").over(w).as("cp"), sum("neg").over(w).as("cn"))
      def gini(p: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
        lit(1.0) - (p.cast("double") / (p + n)) * (p.cast("double") / (p + n)) -
          (n.cast("double") / (p + n)) * (n.cast("double") / (p + n))
      val rp = col("tp") - col("cp")
      val rn = col("tn") - col("cn")
      val g = c.crossJoin(broadcast(t))
        .filter(rp + rn > 0)
        .withColumn("wg",
          ((col("cp") + col("cn")).cast("double") / (col("tp") + col("tn"))) *
            gini(col("cp"), col("cn")) +
          ((rp + rn).cast("double") / (col("tp") + col("tn"))) * gini(rp, rn))
      graft.operators.Relational.topKByAgg(
          g.select(((col("bin") + 1) * 1000.0).as("threshold"),
            (col("cp") + col("cn")).cast("long").as("n_left"),
            (rp + rn).cast("long").as("n_right"),
            col("wg").as("split_gini"),
            gini(col("tp"), col("tn")).as("root_gini"),
            col("wg"), col("bin")),
          1, Seq(col("wg"), col("bin")))
        .select("threshold", "n_left", "n_right", "split_gini", "root_gini")
    },

    // F15 — Brier score + log-loss for the F9 scorer: the proper scoring
    // rules that complement AUC (ranking) and F10 (calibration curve).
    // Probability = the F10 min-max normalization of the score, clamped
    // to [1e-6, 1−1e-6] for the log terms; one broadcast bounds row +
    // one 1-row reduce over a narrow projection. Double sums over
    // same-magnitude positive terms — accumulation-order noise is
    // ~1e-13 relative, invisible at the 9-significant-digit gate
    // (q_seasonality_strength's precedent).
    // Per-row terms quantized to a 1e-9 DECIMAL grid before the sum
    // (the dsum discipline): the raw double sums matched below sf10 only
    // because the events file fit ONE scan partition in both engines
    // (same sequential order); at sf10 Spark splits the scan and the
    // merge order diverges. A 1e-9 quantum is far below the metric's
    // meaning; the DECIMAL sum is exact and associative (map-side
    // combinable), and the DuckDB side takes the VARCHAR exit because
    // the unscaled sum crosses 2^53 (the q14 rule).
    QueryDef.sql("m_brier", {
      import graft.functions.PortableMath
      s"""WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
        |s AS (SELECT least(greatest((value - mn) / (mx - mn), 0.000001), 0.999999) AS p,
        |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |      FROM events CROSS JOIN b)
        |SELECT count(*) AS n,
        |  CAST(CAST(sum(CAST((p - y) * (p - y) AS DECIMAL(28,9))) AS VARCHAR) AS DOUBLE) / count(*) AS brier,
        |  CAST(CAST(sum(CAST(-(y * ${PortableMath.lnSql("p")} + (1 - y) * ${PortableMath.lnSql("(1.0 - p)")}) AS DECIMAL(28,9))) AS VARCHAR) AS DOUBLE) / count(*) AS logloss,
        |  CAST(sum(y) AS DOUBLE) / count(*) AS pos_rate
        |FROM s""".stripMargin
    }) { (s, d) =>
      val ev = Tables.events(s, d)
      val b = ev.agg(min("value").as("mn"), max("value").as("mx"))
      val sc = ev.crossJoin(broadcast(b))
        .select(
          least(greatest((col("value") - col("mn")) / (col("mx") - col("mn")),
            lit(0.000001)), lit(0.999999)).as("p"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("y"))
      sc.agg(count(lit(1)).as("n"),
        (sum(((col("p") - col("y")) * (col("p") - col("y")))
          .cast("decimal(28,9)")).cast("double") / count(lit(1))).as("brier"),
        (sum((-(col("y") * graft.functions.PortableMath.pLn(col("p")) +
          (lit(1) - col("y")) * graft.functions.PortableMath.pLn(lit(1.0) - col("p"))))
          .cast("decimal(28,9)")).cast("double") / count(lit(1))).as("logloss"),
        (sum("y").cast("double") / count(lit(1))).as("pos_rate"))
    },

    // F16 — decile lift / gains chart for the F9 scorer (the targeting
    // readout next to AUC/calibration/Brier: "mail the top 2 deciles,
    // capture X% of converters"). ntile(10) by score desc under a unique
    // tie-break (event_id — engine-identical placement, B53's
    // discipline); per-decile positives are integer aggregates, lift and
    // cumulative capture are single double divisions against the
    // broadcast totals. The global rank window carries B27's caveat —
    // at 100 TB the decile cuts come from the B14x quantile sketch and
    // deciles from a broadcast join against 9 cut points.
    QueryDef.sql("m_lift_gains",
      """WITH s AS (SELECT event_id, value AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |t AS (SELECT count(*) AS n, sum(y) AS npos FROM s),
        |d AS (SELECT y, ntile(10) OVER (ORDER BY score DESC, event_id) AS decile FROM s),
        |g AS (SELECT decile, count(*) AS n, sum(y) AS npos FROM d GROUP BY 1)
        |SELECT decile, g.n AS n, CAST(g.npos AS BIGINT) AS n_pos,
        |  CAST(g.npos AS DOUBLE) / g.n AS pos_rate,
        |  (CAST(g.npos AS DOUBLE) / g.n) / (CAST(t.npos AS DOUBLE) / t.n) AS lift,
        |  CAST(sum(g.npos) OVER (ORDER BY decile) AS DOUBLE)
        |    / t.npos AS cum_capture
        |FROM g CROSS JOIN t ORDER BY decile""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val sc = Tables.events(s, d).select(col("event_id"), col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      val t = sc.agg(count(lit(1)).as("tn"), sum("y").as("tpos"))
      // r16: the global ntile window ran as ONE task holding every row
      // (sf10 stage profile: 14.2 s single-task sort over 108 MB). The
      // m_auc surrogate-key machinery gives the same total order
      // distributed (range partition + per-partition row_number +
      // offsets); ntile(10) is then closed-form integer arithmetic over
      // the dense 0-based rank: the first n%10 buckets hold ⌈n/10⌉ rows,
      // the rest ⌊n/10⌋ — exactly SQL ntile's row placement, so every
      // decile's membership (and all downstream sums) is unchanged.
      val nTot = t.head().getLong(0)
      val dec =
        if (nTot < 10L) // degenerate fixture guard: buckets of size ≤1
          sc.select(col("y"),
            ntile(10).over(Window.orderBy(col("score").desc, col("event_id"))).as("decile"))
        else {
          val q = nTot / 10L; val rem = nTot % 10L
          graft.operators.Relational
            .surrogateKey(sc, "__rid", Seq(col("score").desc, col("event_id")))
            .selectExpr("y",
              s"""CAST(CASE WHEN __rid < ${rem * (q + 1L)}L
                 |  THEN __rid DIV ${q + 1L}L
                 |  ELSE ${rem}L + (__rid - ${rem * (q + 1L)}L) DIV ${q}L
                 |END + 1 AS INT) AS decile""".stripMargin)
        }
      val g = dec.groupBy("decile").agg(count(lit(1)).as("n"), sum("y").as("npos"))
      g.crossJoin(broadcast(t))
        .select(col("decile"), col("n"), col("npos").cast("long").as("n_pos"),
          (col("npos").cast("double") / col("n")).as("pos_rate"),
          ((col("npos").cast("double") / col("n")) /
            (col("tpos").cast("double") / col("tn"))).as("lift"),
          (sum("npos").over(Window.orderBy("decile")).cast("double") /
            col("tpos")).as("cum_capture"))
        .orderBy("decile")
    },

    // F16x — the B14x-laddered form of m_lift_gains for the scale where
    // a global ntile window is impossible: scores bin at their native
    // cent precision (the `value` domain is bounded, so the bin table is
    // dimension-sized at ANY scale factor — the B18 argument), ONE
    // map-side-combined bin aggregate is the only data-scale stage, the
    // cumulative runs over the dim-sized bin rollup, and each bin's rows
    // are allocated to the ntile-exact decile rank ranges it overlaps —
    // counts allocate EXACTLY (overlap arithmetic), positives pro-rata
    // within a boundary-straddling bin (ntile splits such ties by
    // event_id, which bins cannot see; that pro-rata share is the only
    // estimated quantity). Rows-only: MlQueriesBinnedSpec pins per-decile
    // n to the exact twin bit-for-bit and npos/lift to tight agreement.
    QueryDef.rowsOnly("m_lift_gains_binned") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val sc = Tables.events(s, d).select(col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      val bins = sc.groupBy("score")
        .agg(count(lit(1)).as("c"), sum("y").as("p"))
      val t = bins.agg(sum("c").as("tn"), sum("p").as("tpos"))
      // ntile(10) rank ranges: first tn%10 deciles carry one extra row
      val deciles = t.select(
          explode(sequence(lit(1), lit(10))).as("decile"), col("tn"), col("tpos"))
        .withColumn("dstart", (col("decile") - 1) * floor(col("tn") / 10).cast("long") +
          least((col("decile") - 1).cast("long"), col("tn") % 10))
        .withColumn("dend", col("dstart") + floor(col("tn") / 10).cast("long") +
          when(col("decile") <= col("tn") % 10, 1L).otherwise(0L))
      val cumW = Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val spans = bins
        .select(col("score"), col("c"), col("p"), sum("c").over(cumW).as("bend"))
        .withColumn("bstart", col("bend") - col("c"))
      val g = spans.join(broadcast(deciles),
          col("bstart") < col("dend") && col("dstart") < col("bend"))
        .withColumn("ov",
          least(col("bend"), col("dend")) - greatest(col("bstart"), col("dstart")))
        .groupBy("decile")
        .agg(sum("ov").as("n"),
          sum(col("p") * col("ov").cast("double") / col("c")).as("npos"),
          first("tn").as("tn"), first("tpos").as("tpos"))
      g.select(col("decile"), col("n"), col("npos").as("n_pos_est"),
          (col("npos") / col("n")).as("pos_rate"),
          ((col("npos") / col("n")) /
            (col("tpos").cast("double") / col("tn"))).as("lift"),
          (sum("npos").over(Window.orderBy("decile")) /
            col("tpos")).as("cum_capture"))
        .orderBy("decile")
    },

    // F18 — decision-threshold tuning: the operating point every
    // deployed scorer needs after F9 proves the ranking — sweep
    // candidate thresholds, pick the best F1. Same shape as F14's split
    // search: ONE integer-bin partial agg over the facts, cumulative
    // window over ~100 bins, closed-form precision/recall/F1 per
    // candidate from exact cumulative counts, argmax with a lower-bin
    // tie-break. Predicted-positive = score ≥ threshold ⇒ the ≥-side
    // cumulative counts come from the broadcast totals minus the
    // <-side prefix sums.
    QueryDef.sql("m_threshold_tuning",
      """WITH b AS (
        |  SELECT CAST(floor(value) AS BIGINT) AS bin,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos,
        |    sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS neg
        |  FROM events GROUP BY 1),
        |t AS (SELECT sum(pos) AS tp_all, sum(neg) AS tn_all FROM b),
        |c AS (SELECT bin,
        |        sum(pos) OVER (ORDER BY bin) - pos AS pos_below,
        |        sum(neg) OVER (ORDER BY bin) - neg AS neg_below
        |      FROM b),
        |f AS (SELECT bin, tp_all - pos_below AS tp, tn_all - neg_below AS fp,
        |        pos_below AS fn
        |      FROM c CROSS JOIN t)
        |SELECT CAST(bin AS DOUBLE) AS threshold,
        |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
        |  CAST(tp AS DOUBLE) / (tp + fp) AS prec,
        |  CAST(tp AS DOUBLE) / (tp + fn) AS recall,
        |  2.0 * tp / (2 * tp + fp + fn) AS f1
        |FROM f WHERE tp > 0
        |ORDER BY 2.0 * tp / (2 * tp + fp + fn) DESC, bin LIMIT 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val b = Tables.events(s, d)
        .groupBy(floor(col("value")).cast("long").as("bin"))
        .agg(sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("pos"),
          sum(when(col("event_type") === "purchase", 0).otherwise(1)).as("neg"))
      val t = b.agg(sum("pos").as("tp_all"), sum("neg").as("tn_all"))
      val w = Window.orderBy("bin")
      val c = b.select(col("bin"),
        (sum("pos").over(w) - col("pos")).as("pos_below"),
        (sum("neg").over(w) - col("neg")).as("neg_below"))
      val f = c.crossJoin(broadcast(t))
        .select(col("bin"), (col("tp_all") - col("pos_below")).as("tp"),
          (col("tn_all") - col("neg_below")).as("fp"), col("pos_below").as("fn"))
        .filter(col("tp") > 0)
      val f1 = lit(2.0) * col("tp") / (lit(2) * col("tp") + col("fp") + col("fn"))
      graft.operators.Relational.topKByAgg(
          f.select(col("bin").cast("double").as("threshold"),
            col("tp").cast("long").as("tp"), col("fp").cast("long").as("fp"),
            col("fn").cast("long").as("fn"),
            (col("tp").cast("double") / (col("tp") + col("fp"))).as("prec"),
            (col("tp").cast("double") / (col("tp") + col("fn"))).as("recall"),
            f1.as("f1"), col("bin")),
          1, Seq(col("f1").desc, col("bin")))
        .select("threshold", "tp", "fp", "fn", "prec", "recall", "f1")
    },

    // F17 — implicit-feedback collaborative filtering (`ml.recommendation
    // .ALS`) on the customer × part purchase matrix: top-3 part
    // recommendations for the first 20 customers. The interaction build
    // is one join + one partial agg (the only data-scale stages — ALS
    // itself runs on the interaction matrix, which is |customers ×
    // purchased parts| — orders of magnitude below the fact table, and
    // Spark's blocked alternating solves ARE the distributed factorization
    // at any scale). Iterative stochastic-start estimator ⇒ rows-only;
    // RegressionSpec pins that observed interactions score decisively
    // above random non-interactions.
    QueryDef.rowsOnly("m_als") { (s, d) =>
      val model = graft.ml.Recommend.alsModel(s, d)
      val users = alsInteractions(s, d).select("user").distinct()
        .filter(col("user") <= 20)
      model.recommendForUserSubset(users, 3)
        .select(col("user"), posexplode(col("recommendations")).as(Seq("pos", "rec")))
        .select(col("user").cast("long").as("user"),
          (col("pos") + 1).cast("long").as("rank"),
          col("rec.item").cast("long").as("item"))
        .orderBy("user", "rank")
    },

    // F19 — precision-recall AUC (average precision): the ranking metric
    // that, unlike F9's ROC-AUC, doesn't saturate under class imbalance —
    // the regime every quality-filter threshold lives in. Scores are
    // bucketed into 200 fixed-width bins first (F10's identical-double
    // bin arithmetic), so the threshold sweep is a window over a
    // REPORT-sized 200-row table, never a data-scale sort — the exact
    // per-score sweep would be a single-partition window over every
    // distinct double at 100 TB. AP = Σ ΔTP·precision / P over bins in
    // descending score order; the cross-bin double sum is order-pinned by
    // a bin-sorted fold in both engines (the round-10 rule — the old
    // DECIMAL(38,12) re-entry relied on DuckDB's double→DECIMAL cast,
    // which is not correctly rounded).
    QueryDef.sql("m_pr_auc",
      """WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
        |s AS (SELECT CAST(least(floor((value - mn) * 200.0 / (mx - mn)), 199) AS BIGINT) AS bin,
        |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |      FROM events CROSS JOIN b),
        |g AS (SELECT bin, CAST(sum(y) AS BIGINT) AS npos_b, count(*) AS n_b
        |      FROM s GROUP BY 1),
        |c AS (SELECT bin, npos_b, n_b,
        |        CAST(sum(npos_b) OVER (ORDER BY bin DESC) AS BIGINT) AS tp,
        |        CAST(sum(n_b) OVER (ORDER BY bin DESC) AS BIGINT) AS cnt
        |      FROM g),
        |a AS (SELECT list_reduce(list(npos_b * (CAST(tp AS DOUBLE)/cnt) ORDER BY bin), (x, y) -> x + y) AS ap_num,
        |        CAST(sum(npos_b) AS BIGINT) AS npos, CAST(sum(n_b) AS BIGINT) AS n
        |      FROM c)
        |SELECT npos, n - npos AS nneg, ap_num / npos AS pr_auc FROM a""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val b = ev.agg(min("value").as("mn"), max("value").as("mx"))
      val g = ev.crossJoin(broadcast(b))
        .select(
          least(floor((col("value") - col("mn")) * 200.0 / (col("mx") - col("mn"))), lit(199))
            .cast("long").as("bin"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        .groupBy("bin")
        .agg(sum("y").cast("long").as("npos_b"), count(lit(1)).as("n_b"))
      // 200-row table: the window is report-sized by construction
      val w = Window.orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("tp", sum("npos_b").over(w).cast("long"))
        .withColumn("cnt", sum("n_b").over(w).cast("long"))
        .agg(
          expr("aggregate(array_sort(collect_list(named_struct('bin', bin, " +
            "'v', npos_b * (CAST(tp AS DOUBLE)/cnt)))), CAST(0 AS DOUBLE), (x, y) -> x + y.v)").as("ap_num"),
          sum("npos_b").cast("long").as("npos"), sum("n_b").cast("long").as("n"))
        .selectExpr("npos", "n - npos AS nneg", "ap_num / npos AS pr_auc")
    },

    // F22 — weight-of-evidence / information value per score bin (the
    // credit-scoring feature audit: WoE linearizes a feature against the
    // log-odds target, IV summarizes its predictive power). F10's fixed
    // 10-bin arithmetic, per-bin positive/negative counts in one partial
    // agg, 0.5 smoothing on BOTH count sides so empty cells stay finite
    // (the standard adjustment, applied identically in both engines);
    // WoE is one ln() of a ratio of smoothed shares; the IV terms
    // re-enter DECIMAL before the cross-bin sum (B84 discipline).
    QueryDef.sql("m_woe_iv",
      """WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
        |s AS (SELECT CAST(least(floor((value - mn) * 10.0 / (mx - mn)), 9) AS BIGINT) AS bin,
        |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |      FROM events CROSS JOIN b),
        |g AS (SELECT bin, CAST(sum(y) AS BIGINT) AS npos,
        |        CAST(sum(1 - y) AS BIGINT) AS nneg FROM s GROUP BY 1),
        |t AS (SELECT CAST(sum(npos) AS DOUBLE) AS tp, CAST(sum(nneg) AS DOUBLE) AS tn,
        |        count(*) AS nb FROM g),
        |r AS (SELECT bin, npos, nneg,
        |        ((npos + 0.5)/(tp + 0.5*nb)) / ((nneg + 0.5)/(tn + 0.5*nb)) AS odds,
        |        (npos + 0.5)/(tp + 0.5*nb) - (nneg + 0.5)/(tn + 0.5*nb) AS dp
        |      FROM g CROSS JOIN t),
        |w AS (SELECT bin, npos, nneg, """.stripMargin +
        graft.functions.PortableMath.lnSql("odds") +
        """ AS woe, dp FROM r),
        |w2 AS (SELECT bin, npos, nneg, woe, dp * woe AS iv_term FROM w)
        |SELECT bin, npos, nneg, woe,
        |  (SELECT list_reduce(list(iv_term ORDER BY bin), (a, b) -> a + b) FROM w2) AS iv_total
        |FROM w2 ORDER BY bin""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val b = ev.agg(min("value").as("mn"), max("value").as("mx"))
      val g = ev.crossJoin(broadcast(b))
        .select(
          least(floor((col("value") - col("mn")) * 10.0 / (col("mx") - col("mn"))), lit(9))
            .cast("long").as("bin"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        .groupBy("bin")
        .agg(sum("y").cast("long").as("npos"),
          sum(lit(1L) - col("y")).cast("long").as("nneg"))
      val t = g.agg(sum("npos").cast("double").as("tp"),
        sum("nneg").cast("double").as("tn"), count(lit(1)).as("nb"))
      val w = g.crossJoin(broadcast(t))
        .selectExpr("bin", "npos", "nneg",
          "((npos + 0.5D)/(tp + 0.5D*nb)) / ((nneg + 0.5D)/(tn + 0.5D*nb)) AS odds",
          "(npos + 0.5D)/(tp + 0.5D*nb) - (nneg + 0.5D)/(tn + 0.5D*nb) AS dp")
        .select(col("bin"), col("npos"), col("nneg"),
          graft.functions.PortableMath.pLn(col("odds")).as("woe"), col("dp"))
        .select(col("bin"), col("npos"), col("nneg"), col("woe"),
          (col("dp") * col("woe")).as("iv_term"))
      val iv = w.agg(
        expr("aggregate(array_sort(collect_list(named_struct('bin', bin, 'v', iv_term))), " +
          "CAST(0 AS DOUBLE), (a, x) -> a + x.v)").as("iv_total"))
      w.crossJoin(broadcast(iv))
        .select(col("bin"), col("npos"), col("nneg"), col("woe"), col("iv_total"))
        .orderBy("bin")
    },

    // F21 — ridge regression in closed form (F2 with an L2 penalty —
    // the λ→0 limit IS the OLS slope, and the shrinkage column shows
    // exactly how much the penalty pulled the fit): centered co-moments
    // from the SAME six exact-DECIMAL aggregates as F2 (one scan, no new
    // data-scale work), slope_ridge = Sxy_c/(Sxx_c + λ) with the
    // intercept unpenalized (the standard convention — penalizing it
    // would make the fit depend on the y offset). λ=1000 fixed.
    QueryDef.sql("m_ridge",
      s"""WITH $olsCte
         |SELECT n,
         |  (n*sxy - sx*sy)/(n*sxx - sx*sx) AS slope_ols,
         |  ((sxy - sx*sy/n)) / ((sxx - sx*sx/n) + 1000.0) AS slope_ridge,
         |  sy/n - (((sxy - sx*sy/n)) / ((sxx - sx*sx/n) + 1000.0)) * sx/n AS intercept_ridge,
         |  (((sxy - sx*sy/n)) / ((sxx - sx*sx/n) + 1000.0)) /
         |    ((n*sxy - sx*sy)/(n*sxx - sx*sx)) AS shrinkage
         |FROM f""".stripMargin) { (s, d) =>
      Regression.exactOlsAggregates(Tables.lineitem(s, d), "l_quantity", "l_extendedprice")
        .selectExpr("n",
          "(n*sxy - sx*sy)/(n*sxx - sx*sx) AS slope_ols",
          "((sxy - sx*sy/n)) / ((sxx - sx*sx/n) + 1000.0) AS slope_ridge",
          "sy/n - (((sxy - sx*sy/n)) / ((sxx - sx*sx/n) + 1000.0)) * sx/n AS intercept_ridge",
          "(((sxy - sx*sy/n)) / ((sxx - sx*sx/n) + 1000.0)) / ((n*sxy - sx*sy)/(n*sxx - sx*sx)) AS shrinkage")
    },

    // F20 — gradient-boosted regression stumps (ml.Boost): the smallest
    // real GBM, three rounds of residual stump fits of l_extendedprice
    // on integer l_quantity with lr=0.5. Per round, the only data-scale
    // stage is ONE binned-residual partial agg (≤50 bins collected);
    // split search and leaves are closed-form over the bins, and
    // predictions stay literal-folded column expressions — R rounds = R
    // aggregate scans, zero fact-table shuffles. Deterministic without a
    // seed (exact DECIMAL residual sums, integer bins, lowest-threshold
    // tie-break), but the multi-round trace isn't single-query SQL ⇒
    // rows-only; MetricsSpec pins strictly decreasing train MSE and the
    // round-1 stump against a hand-checked split.
    QueryDef.rowsOnly("m_gbm_stumps") { (s, d) =>
      graft.ml.Boost.gbmReport(s, Tables.lineitem(s, d), rounds = 3)
    },

    // F23 — isotonic regression of purchase rate on score (the calibration
    // FIT m_calibration only reports): PAV's pooled solution expressed in
    // its CLOSED minimax form iso(i) = max_{j≤i} min_{k≥i} mean(j..k),
    // which needs no sequential pooling loop and is therefore fully
    // SQL-expressible — the whole fit becomes three bounded joins over the
    // bin-DIMENSION-sized rollup (10 bins → ≤10³ intermediate rows at ANY
    // event volume; the one data-scale stage is the binned partial agg).
    // Prefix sums make mean(j..k) one subtraction + one division from
    // exact integer counts, identical doubles in both engines.
    QueryDef.sql("m_isotonic",
      """WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
        |bins AS (
        |  SELECT CAST(least(floor((value - mn) * 10.0 / (mx - mn)), 9) AS BIGINT) AS bin,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS sy
        |  FROM events CROSS JOIN b GROUP BY 1),
        |cum AS (SELECT bin, sum(n) OVER (ORDER BY bin) AS cn,
        |               sum(sy) OVER (ORDER BY bin) AS cy FROM bins),
        |pm AS (
        |  SELECT j.bin AS jb, k.bin AS kb,
        |         (k.cy - coalesce(jp.cy, 0)) * 1.0 / (k.cn - coalesce(jp.cn, 0)) AS mean_jk
        |  FROM cum j JOIN cum k ON j.bin <= k.bin
        |  LEFT JOIN cum jp ON jp.bin = j.bin - 1),
        |im AS (
        |  SELECT i.bin AS ib, pm.jb, min(pm.mean_jk) AS mn
        |  FROM bins i JOIN pm ON pm.jb <= i.bin AND pm.kb >= i.bin
        |  GROUP BY 1, 2),
        |iso AS (SELECT ib AS bin, max(mn) AS iso_rate FROM im GROUP BY 1)
        |SELECT bins.bin, n, CAST(sy AS DOUBLE)/n AS pos_rate, iso_rate
        |FROM bins JOIN iso ON iso.bin = bins.bin ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val b = ev.agg(min("value").as("mn"), max("value").as("mx"))
      val bins = ev.crossJoin(broadcast(b))
        .select(
          least(floor((col("value") - col("mn")) * 10.0 / (col("mx") - col("mn"))), lit(9))
            .cast("long").as("bin"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        .groupBy("bin").agg(count(lit(1)).as("n"), sum("y").as("sy"))
      // everything below is bin-dim-sized (≤10 rows): the report window
      // and bounded inequality joins never see the fact table
      val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = bins.select(col("bin"), sum("n").over(w).as("cn"), sum("sy").over(w).as("cy"))
      val j = cum.select(col("bin").as("jb"))
      val jp = cum.select((col("bin") + 1).as("jb"), col("cn").as("pcn"), col("cy").as("pcy"))
      val k = cum.select(col("bin").as("kb"), col("cn").as("kcn"), col("cy").as("kcy"))
      val pm = j.join(k, col("jb") <= col("kb"))
        .join(jp, Seq("jb"), "left")
        .select(col("jb"), col("kb"),
          ((col("kcy") - coalesce(col("pcy"), lit(0L))) * lit(1.0) /
           (col("kcn") - coalesce(col("pcn"), lit(0L)))).as("mean_jk"))
      val im = bins.select(col("bin").as("ib"))
        .join(pm, col("jb") <= col("ib") && col("kb") >= col("ib"))
        .groupBy("ib", "jb").agg(min("mean_jk").as("mn"))
      val iso = im.groupBy(col("ib").as("bin")).agg(max("mn").as("iso_rate"))
      bins.join(iso, "bin")
        .select(col("bin"), col("n"),
          (col("sy").cast("double") / col("n")).as("pos_rate"), col("iso_rate"))
        .orderBy("bin")
    },

    // F24 — logistic regression by Newton-Raphson ON AGGREGATES (urgent
    // priority ~ intercept + ln(totalprice) + finished-status): per
    // iteration the data-scale work is ONE partial-aggregate scan
    // computing the 3-vector gradient and 3×3 Hessian (9 sums + the
    // log-likelihood); the solve is a driver-side 3×3 elimination and the
    // new coefficients re-enter the next scan as FOLDED LITERALS — the
    // GLM analog of F20's boosting loop: R iterations = R scans, zero
    // fact shuffles, and at 1000 executors each scan is an embarrassing
    // map + 20-number reduce. ORDER-INVARIANCE without the decimal tax:
    // every sum term is rounded to a scaled INTEGER (×10¹²) and summed as
    // two exact LONGs (hi = ⌊t/10⁶⌋, lo = remainder — one long would
    // overflow at 10⁵ rows × 10¹⁴-scaled terms), reassembled exactly in
    // BigDecimal on the driver. Long sums are associative-exact, so
    // partition order can't perturb the trajectory — the SAME guarantee
    // the previous DECIMAL(38,18) form bought, at double-sum speed
    // (measured: the decimal accumulation was 5.5× the scan, 1.7 s vs
    // 0.3 s per iteration at sf0.1). The 10⁻¹² term quantization is two
    // orders below every spec tolerance. Iterative ⇒ not single-query
    // SQL ⇒ rows-only; MetricsSpec pins convergence (‖grad‖≈0), a
    // log-likelihood above the intercept-only baseline.
    QueryDef.rowsOnly("m_logreg_newton") { (s, d) =>
      // Project the narrow feature frame ONCE and persist it: the six
      // Newton passes then scan 24 B/row from memory instead of paying
      // the parquet decode + string compares + log() per pass (r16 sf10
      // stage profile: 6 × ~10 s stages, 110-170 CPU-s each — the scan
      // inputs re-decoded every iteration).
      val data = Tables.orders(s, d).select(
        when(col("o_orderpriority") === "1-URGENT", 1.0).otherwise(0.0).as("y"),
        log(col("o_totalprice")).as("x1"),
        when(col("o_orderstatus") === "F", 1.0).otherwise(0.0).as("x2"))
        .persist()
      // exact split-long sum of ROUND(term*1e12): hi/lo pairs. The
      // rounded double ROUND(term·1e12) and its ⌊/10⁶⌋ hi image are
      // projected ONCE per row (same IEEE expression tree as inlining
      // them into both sum args — r16: the inline form evaluated each
      // ROUND up to 4× per row inside the 20 aggregate expressions).
      // r17: graft_round0 — bit-identical to ROUND on DOUBLE (Round0Expr:
      // fast half-away-from-zero path, BigDecimal reference fallback on
      // the ambiguous .5±ulp band; Round0ExprSpec stress-gates equality)
      // without Spark Round's BigDecimal.valueOf(Double.toString) per
      // call. Ten rounds per row × 15M rows × 6 passes was the dominant
      // per-row cost (sf10 stage profile: 56-76 CPU-s per pass).
      def iproj(e: String, n: String) = Seq(
        s"graft_round0(($e) * 1e12) AS ${n}_rd",
        s"CAST(FLOOR(graft_round0(($e) * 1e12) / 1e6) AS BIGINT) AS ${n}_hi0")
      def isum(n: String) = Seq(
        s"sum(${n}_hi0) AS ${n}_hi",
        s"sum(CAST(${n}_rd AS BIGINT) - ${n}_hi0 * 1000000L) AS ${n}_lo")
      def unsplit(r: org.apache.spark.sql.Row, n: String): Double =
        ((BigDecimal(r.getAs[Long](s"${n}_hi")) * BigDecimal(1000000) +
          BigDecimal(r.getAs[Long](s"${n}_lo"))) / BigDecimal("1e12")).toDouble
      var beta = Array(0.0, 0.0, 0.0)
      var ll = 0.0; var gnorm = 0.0
      val iters = 6
      var it = 0
      var converged = false
      while (it < iters && !converged) {
        val eta = s"(${beta(0)}D + ${beta(1)}D*x1 + ${beta(2)}D*x2)"
        val p = s"(1.0D / (1.0D + exp(-$eta)))"
        val terms = Seq(
          "g0" -> "y - p", "g1" -> "(y - p)*x1", "g2" -> "(y - p)*x2",
          "h00" -> "p*(1.0D-p)", "h01" -> "p*(1.0D-p)*x1", "h02" -> "p*(1.0D-p)*x2",
          "h11" -> "p*(1.0D-p)*x1*x1", "h12" -> "p*(1.0D-p)*x1*x2",
          "h22" -> "p*(1.0D-p)*x2*x2",
          "ll" -> "CASE WHEN y = 1.0D THEN ln(p) ELSE ln(1.0D-p) END")
        val r = data.selectExpr(s"y", s"x1", s"x2", s"$p AS p")
          .selectExpr(terms.flatMap { case (n, e) => iproj(e, n) }: _*)
          .selectExpr(terms.flatMap { case (n, _) => isum(n) }: _*)
          .head()
        def v(n: String) = unsplit(r, n)
        val g = Array(v("g0"), v("g1"), v("g2"))
        val h = Array(
          Array(v("h00"), v("h01"), v("h02")),
          Array(v("h01"), v("h11"), v("h12")),
          Array(v("h02"), v("h12"), v("h22")))
        ll = v("ll")
        gnorm = math.sqrt(g.map(x => x * x).sum)
        // driver 3×3 Gaussian elimination with partial pivoting
        val a = Array.tabulate(3, 4)((i, c) => if (c < 3) h(i)(c) else g(i))
        var col0 = 0
        while (col0 < 3) {
          var piv = col0
          var rI = col0 + 1
          while (rI < 3) { if (math.abs(a(rI)(col0)) > math.abs(a(piv)(col0))) piv = rI; rI += 1 }
          val tmp = a(col0); a(col0) = a(piv); a(piv) = tmp
          rI = col0 + 1
          while (rI < 3) {
            val f = a(rI)(col0) / a(col0)(col0)
            var c = col0
            while (c < 4) { a(rI)(c) -= f * a(col0)(c); c += 1 }
            rI += 1
          }
          col0 += 1
        }
        val delta = new Array[Double](3)
        var rI = 2
        while (rI >= 0) {
          var acc = a(rI)(3)
          var c = rI + 1
          while (c < 3) { acc -= a(rI)(c) * delta(c); c += 1 }
          delta(rI) = acc / a(rI)(rI)
          rI -= 1
        }
        beta = Array(beta(0) + delta(0), beta(1) + delta(1), beta(2) + delta(2))
        it += 1
        // quadratic convergence: once the measured gradient is inside the
        // spec's 1e-6 bar the NEXT step lands ~1e-12 — but that scan would
        // only re-measure what quadratic convergence already guarantees
        if (gnorm < 1e-6) converged = true
      }
      data.unpersist()
      import s.implicits._
      Seq((beta(0), beta(1), beta(2), ll, gnorm, it.toLong))
        .toDF("beta0", "beta1", "beta2", "loglik", "grad_norm", "n_iter")
    },

    // F25 — LEAVE-ONE-OUT target encoding of customer segment against
    // the urgent label (the feature-engineering staple that replaces a
    // categorical with its target rate WITHOUT leaking each row's own
    // label into its feature — naive mean encoding leaks exactly that):
    // per category only TWO distinct encoded values exist, (n1−1)/(n−1)
    // for positives and n1/(n−1) for negatives, so the whole encoding is
    // one category-keyed partial agg + a closed form — the per-row
    // encoded column at 100 TB is a broadcast join of this table back
    // onto the fact, never a window. Exact integer counts ⇒ exact
    // doubles both engines.
    QueryDef.sql("m_target_encode",
      """WITH j AS (SELECT c_mktsegment AS seg,
        |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        |       FROM orders JOIN customer ON c_custkey = o_custkey),
        |g AS (SELECT seg, CAST(sum(y) AS BIGINT) AS n1, CAST(count(*) AS BIGINT) AS n
        |      FROM j GROUP BY 1)
        |SELECT seg, n, n1,
        |  CAST(n1 - 1 AS DOUBLE)/(n - 1) AS loo_pos,
        |  CAST(n1 AS DOUBLE)/(n - 1) AS loo_neg
        |FROM g ORDER BY seg""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
          col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("n1"),
          count(lit(1)).as("n"))
        .select(col("seg"), col("n"), col("n1"),
          ((col("n1") - 1).cast("double") / (col("n") - 1)).as("loo_pos"),
          (col("n1").cast("double") / (col("n") - 1)).as("loo_neg"))
        .orderBy("seg")
    },

    // F26 — multiclass MCC (Gorodkin's R_K) + Cohen's kappa over the kNN
    // confusion matrix: the two chance-corrected single-number scores
    // F11's per-class precision/recall can't give (accuracy lies under
    // class imbalance; MCC and kappa don't). Everything reduces to exact
    // BIGINT contingency sums over the k×k cm frame — c·s, Σt_k·p_k,
    // Σp_k², Σt_k² — so both statistics are one fixed double closed form
    // each; degenerate single-class predictions NULL out via nullif, not
    // an ANSI divide error. The only data-scale stage is the kNN scoring
    // pipeline itself (shared with F11).
    QueryDef.sql("m_mcc_kappa",
      s"""WITH ${SimilarityQueries.knnConfusionCte},
         |tt AS (SELECT true_label AS label, CAST(sum(n) AS BIGINT) AS t FROM cm GROUP BY 1),
         |pp AS (SELECT pred_label AS label, CAST(sum(n) AS BIGINT) AS p FROM cm GROUP BY 1),
         |m AS (SELECT
         |  (SELECT CAST(sum(n) AS BIGINT) FROM cm) AS s,
         |  (SELECT coalesce(CAST(sum(n) AS BIGINT), 0)
         |     FROM cm WHERE true_label = pred_label) AS c,
         |  (SELECT CAST(sum(t.t * coalesce(p.p, 0)) AS BIGINT)
         |     FROM tt t LEFT JOIN pp p USING (label)) AS stp,
         |  (SELECT CAST(sum(p * p) AS BIGINT) FROM pp) AS sp2,
         |  (SELECT CAST(sum(t * t) AS BIGINT) FROM tt) AS st2)
         |SELECT s AS n, c AS n_correct, CAST(c AS DOUBLE) / s AS accuracy,
         |  (CAST(c AS DOUBLE) * s - stp)
         |    / nullif(sqrt((CAST(s AS DOUBLE) * s - sp2) * (CAST(s AS DOUBLE) * s - st2)), 0) AS mcc,
         |  (CAST(c AS DOUBLE) * s - stp)
         |    / nullif(CAST(s AS DOUBLE) * s - stp, 0) AS kappa
         |FROM m""".stripMargin) { (s, d) =>
      // same staged confusion matrix as m_confusion_metrics (see
      // StagedTables.knnCm); everything below is label-dimension-sized
      val cm = StagedTables.knnCm(s, d)
      val tt = cm.groupBy(col("true_label").as("label")).agg(sum("n").cast("long").as("t"))
      val pp = cm.groupBy(col("pred_label").as("label")).agg(sum("n").cast("long").as("p"))
      val base = cm.agg(sum("n").cast("long").as("s"),
        coalesce(sum(when(col("true_label") === col("pred_label"), col("n"))), lit(0L))
          .cast("long").as("c"))
      val stp = tt.join(pp, Seq("label"), "left")
        .agg(sum(col("t") * coalesce(col("p"), lit(0L))).cast("long").as("stp"))
      val sp2 = pp.agg(sum(col("p") * col("p")).cast("long").as("sp2"))
      val st2 = tt.agg(sum(col("t") * col("t")).cast("long").as("st2"))
      base.crossJoin(broadcast(stp)).crossJoin(broadcast(sp2)).crossJoin(broadcast(st2))
        .selectExpr("s AS n", "c AS n_correct", "CAST(c AS DOUBLE) / s AS accuracy",
          "(CAST(c AS DOUBLE) * s - stp) " +
            "/ nullif(sqrt((CAST(s AS DOUBLE) * s - sp2) * (CAST(s AS DOUBLE) * s - st2)), 0) AS mcc",
          "(CAST(c AS DOUBLE) * s - stp) / nullif(CAST(s AS DOUBLE) * s - stp, 0) AS kappa")
    },

    // F27 — KS score separation: max |CDF₊(s) − CDF₋(s)| over score
    // thresholds — the credit-risk standard for "how separable are the
    // classes" (F9's AUC integrates separation; KS reports its PEAK and
    // the threshold where it happens, which is where a cutoff goes).
    // The stream reduces to per-DISTINCT-SCORE class counts first (the
    // only data-scale stage); the cumulative window runs over the score
    // DOMAIN, which is 2-decimal-bounded (≤ ~56k rows at ANY sf — the
    // B18 histogram argument), so the global window is dim-sized, not
    // data-sized. Exact integer cumulative counts, one |Δ| per domain
    // row, argmax under total order (ks DESC, score).
    QueryDef.sql("m_ks_score",
      """WITH s AS (SELECT value AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |g AS (SELECT score, CAST(sum(y) AS BIGINT) AS p,
        |        CAST(count(*) - sum(y) AS BIGINT) AS q
        |      FROM s GROUP BY 1),
        |t AS (SELECT CAST(sum(p) AS BIGINT) AS np, CAST(sum(q) AS BIGINT) AS nq FROM g),
        |c AS (SELECT score,
        |    CAST(sum(p) OVER w AS BIGINT) AS cp, CAST(sum(q) OVER w AS BIGINT) AS cq
        |  FROM g WINDOW w AS (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (SELECT score,
        |    abs(CAST(cp AS DOUBLE) / np - CAST(cq AS DOUBLE) / nq) AS ks
        |  FROM c CROSS JOIN t),
        |r AS (SELECT score, ks, row_number() OVER (ORDER BY ks DESC, score) AS rn FROM d)
        |SELECT (SELECT np FROM t) AS npos, (SELECT nq FROM t) AS nneg,
        |  score AS ks_threshold, ks
        |FROM r WHERE rn = 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val g = Tables.events(s, d)
        .select(col("value").as("score"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        .groupBy("score")
        .agg(sum("y").cast("long").as("p"),
          (count(lit(1)) - sum("y")).cast("long").as("q"))
      val t = g.agg(sum("p").cast("long").as("np"), sum("q").cast("long").as("nq"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dd = g.select(col("score"),
          sum("p").over(w).cast("long").as("cp"),
          sum("q").over(w).cast("long").as("cq"))
        .crossJoin(broadcast(t))
        .select(col("score"), col("np"), col("nq"),
          abs(col("cp").cast("double") / col("np") -
            col("cq").cast("double") / col("nq")).as("ks"))
      dd.withColumn("rn",
          row_number().over(Window.orderBy(col("ks").desc, col("score"))))
        .filter(col("rn") === 1)
        .select(col("np").as("npos"), col("nq").as("nneg"),
          col("score").as("ks_threshold"), col("ks"))
    }
  )

  /** F17's interaction matrix: purchase counts per (customer, part) —
    * one join + one partial agg over the fact table. Int ids (ALS
    * requirement); the synthetic keys fit comfortably. */
  private[graft] def alsInteractions(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").cast("int").as("user"),
        col("l_partkey").cast("int").as("item"))
      .agg(count(lit(1)).cast("float").as("rating"))
}
