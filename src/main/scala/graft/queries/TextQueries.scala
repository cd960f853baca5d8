package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.PortableMath
import graft.sources.Tables

/** SURVEY §2 group C — text analysis over the `documents` table. */
object TextQueries {

  private val toks = tokensDuck("text")

  /** The cleaning chain's survivors as a reusable SQL fragment:
    * quality ≥ 0.4 ∧ predicted-en ∧ exact-dedup-keep-first, carrying
    * (doc_id, text, source, n_tokens, quality). Shared by p_corpus_clean
    * and the composed p_llm_prep / p_llm_prep_pack oracles. */
  /** The scored-corpus inner select (doc_id, text, source, n_tokens,
    * quality, pred_lang) — shared by [[keptSql]] and H10's waterfall. */
  private[queries] def scoredSql: String = {
    val enStops = langProfiles.find(_._1 == "en").get._2
    val scoreCols = langProfiles.map { case (lang, words) =>
      s"${stopwordCountDuck("toks", words)} AS s_$lang"
    }
    val scoreNames = langProfiles.map { case (lang, _) => s"s_$lang" }
    s"""SELECT doc_id, text, source, n_tokens,
       |  least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.4 + stop_ratio*0.3 +
       |    (1.0 - punct_ratio)*0.2 + least(avg_token_len/10.0, 1.0)*0.1 AS quality,
       |  ${langIdFromScoresDuck(scoreNames)} AS pred_lang
       |FROM (
       |  SELECT doc_id, text, source, len(toks) AS n_tokens,
       |    CASE WHEN length(text) > 0 THEN
       |      CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
       |      ELSE 0.0 END AS punct_ratio,
       |    CASE WHEN len(toks) > 0 THEN
       |      CAST(${stopwordCountDuck("toks", enStops)} AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |      ELSE 0.0 END AS stop_ratio,
       |    CASE WHEN len(toks) > 0 THEN
       |      CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a,b) -> a+b) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |      ELSE 0.0 END AS avg_token_len,
       |    ${scoreCols.mkString(", ")}
       |  FROM (SELECT doc_id, text, source, $toks AS toks FROM documents))""".stripMargin
  }

  private[queries] def keptSql: String =
    s"""SELECT doc_id, text, source, n_tokens, quality FROM (
       |  SELECT doc_id, text, source, n_tokens, quality,
       |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM ($scoredSql)
       |  WHERE quality >= 0.4 AND pred_lang = 'en')
       |WHERE rn = 1""".stripMargin

  /** Spark twin of [[scoredSql]]. */
  private[queries] def scoredDf(s: org.apache.spark.sql.SparkSession, d: String) = {
    // docsSpread is staged as defaultParallelism hash-by-doc_id files, so
    // the scan already runs the regex pipeline wide — no further
    // repartition (r16 ADVICE: the extra exchange re-shuffled the full
    // text column to land at the parallelism the scan already had).
    val spread = graft.queries.StagedTables.docsSpread(s, d)
    val base = spread.withColumn("__toks", tokens(col("text")))
      .withColumn("__scores", stopwordScores(col("__toks")))
    val comps = qualityComponents(col("text"), col("__toks"),
      element_at(col("__scores"), langIndex("en") + 1))
    val withComps = comps.foldLeft(base) { case (df, (n, c)) => df.withColumn(n, c) }
    withComps
      .withColumn("quality", qualityScore(col("n_tokens"), col("punct_ratio"),
        col("stop_ratio"), col("avg_token_len")))
      .withColumn("pred_lang", langIdFromScores(langProfiles.zipWithIndex.map {
        case (_, i) => element_at(col("__scores"), i + 1)
      }))
  }

  // (the Spark twin of keptSql lives in StagedTables.corpusKept — the
  // gate+dedup chain over the staged scored corpus, built once per JVM)

  /** C24 body: BPE merge training over the word-frequency table.
    * `minCount` floors the frequency table BEFORE the driver collect
    * (HF/sentencepiece's min_frequency): the Zipf tail is typically
    * half the distinct vocabulary at weight ≤ minCount−1 each, so the
    * floor bounds driver memory by the HEAD of the curve while the
    * merges live at the top of it — MetricsSpec pins that the learned
    * sequence on the test corpus is identical with and without the
    * floor. Exposed for that spec; queries ship minCount = 2. */
  private[graft] def bpeTrain(s: org.apache.spark.sql.SparkSession, d: String,
                              minCount: Long): org.apache.spark.sql.DataFrame = {
    // r16: word frequencies = Σk over the staged doc_tok_cnt grain
    // (identical integers; the corpus tokenize runs once per JVM).
    val words = graft.queries.StagedTables.docTokCnt(s, d)
      .groupBy(col("tok").as("w")).agg(sum("k").as("n"))
      .filter(col("n") >= minCount) // Zipf-tail floor — bounds the collect
      .collect().map(r => (r.getString(0), r.getLong(1))) // vocab-HEAD-sized
    var segs: Array[(Array[String], Long)] =
      words.map { case (w, n) => (w.map(_.toString).toArray :+ "</w>", n) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var round = 1
    while (round <= 12) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      segs.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pc(k) = pc.getOrElse(k, 0L) + n
          i += 1
        }
      }
      if (pc.nonEmpty) {
        val ((l, r), c) = pc.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((round.toLong, l, r, c))
        segs = segs.map { case (syms, n) =>
          val merged = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              merged += (l + r); i += 2
            } else { merged += syms(i); i += 1 }
          }
          (merged.toArray, n)
        }
      }
      round += 1
    }
    import s.implicits._
    out.toSeq.toDF("round", "left", "right", "pair_count")
  }

  /** One BPE merge round as a codegen'd column fold: scan the symbol
    * array left-to-right, replacing each adjacent (l, r) with their
    * concatenation. The accumulator fold reproduces [[bpeTrain]]'s
    * merge-then-skip scan exactly: a freshly merged symbol can only pair
    * with the NEXT input symbol, never re-pair with the one it consumed
    * (`try_element_at` keeps the empty-accumulator probe NULL-safe under
    * ANSI mode). Applied per DISTINCT word, so the fold's cost is
    * vocabulary-sized regardless of corpus volume. */
  private[graft] def bpeApplyMerge(syms: org.apache.spark.sql.Column,
                                   l: String, r: String): org.apache.spark.sql.Column =
    aggregate(syms, expr("CAST(array() AS array<string>)"),
      (acc, x) => when(
        try_element_at(acc, lit(-1)) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  val all: Seq[QueryDef] = Seq(

    // C1 — token count (whitespace+regex tokenizer) + char length.
    QueryDef.sql("t_token_count",
      s"""SELECT doc_id, len($toks) AS n_tokens, length(text) AS n_chars_calc
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_chars_calc"))
        .orderBy("doc_id")
    },

    // C1x — BPE-style token counting: the GPT-2 pretokenizer regex
    // (contraction suffixes, space-prefixed letter/digit/punct runs,
    // residual whitespace) — the unit a training-data pipeline actually
    // budgets by, vs C1's whitespace words. Pure regex count per row
    // (narrow, codegen); the pattern stays in the java.regex ∩ RE2
    // common dialect, and both engines use leftmost-first alternation,
    // so the counts agree exactly.
    QueryDef.sql("t_token_bpe",
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$bpeDuckPattern')) AS BIGINT) AS n_bpe,
         |  CAST(len($toks) AS BIGINT) AS n_words
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
            .cast("long").as("n_bpe"),
          tokenCount(col("text")).cast("long").as("n_words"))
        .orderBy("doc_id")
    },

    // C2 — quality scoring from length/punctuation/stopword/word-length
    // heuristics; components exposed so the blend is auditable.
    QueryDef.sql("t_quality_score", {
      val enStops = langProfiles.find(_._1 == "en").get._2
      s"""SELECT doc_id, n_tokens, punct_ratio, stop_ratio, avg_token_len,
         |  least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.4 + stop_ratio*0.3 +
         |    (1.0 - punct_ratio)*0.2 + least(avg_token_len/10.0, 1.0)*0.1 AS quality
         |FROM (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    CASE WHEN length(text) > 0 THEN
         |      CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
         |      ELSE 0.0 END AS punct_ratio,
         |    CASE WHEN len(toks) > 0 THEN
         |      CAST(${stopwordCountDuck("toks", enStops)} AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         |      ELSE 0.0 END AS stop_ratio,
         |    CASE WHEN len(toks) > 0 THEN
         |      CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a,b) -> a+b) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         |      ELSE 0.0 END AS avg_token_len
         |  FROM (SELECT doc_id, text, $toks AS toks FROM documents))
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val base = Tables.documents(s, d).withColumn("__toks", tokens(col("text")))
        .withColumn("__scores", stopwordScores(col("__toks")))
      val comps = qualityComponents(col("text"), col("__toks"),
        element_at(col("__scores"), langIndex("en") + 1))
      val withComps = comps.foldLeft(base) {
        case (df, (name, c)) => df.withColumn(name, c)
      }
      withComps.select(
          col("doc_id"), col("n_tokens"), col("punct_ratio"), col("stop_ratio"),
          col("avg_token_len"),
          qualityScore(col("n_tokens"), col("punct_ratio"), col("stop_ratio"),
            col("avg_token_len")).as("quality"))
        .orderBy("doc_id")
    },

    // C3 — stopword-overlap language ID (argmax over profiles, ties to the
    // alphabetically first language); prediction shown against the label.
    QueryDef.sql("t_langid", {
      val scoreCols = langProfiles.map { case (lang, words) =>
        s"${stopwordCountDuck("toks", words)} AS s_$lang"
      }
      val scoreNames = langProfiles.map { case (lang, _) => s"s_$lang" }
      s"""SELECT doc_id, lang AS actual_lang,
         |  ${langIdFromScoresDuck(scoreNames)} AS pred_lang
         |FROM (SELECT doc_id, lang, ${scoreCols.mkString(", ")}
         |      FROM (SELECT doc_id, lang, $toks AS toks FROM documents))
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val base = Tables.documents(s, d).withColumn("__toks", tokens(col("text")))
        .withColumn("__scores", stopwordScores(col("__toks")))
      base.select(
          col("doc_id"), col("lang").as("actual_lang"),
          langIdFromScores(langProfiles.zipWithIndex.map {
            case (_, i) => element_at(col("__scores"), i + 1)
          }).as("pred_lang"))
        .orderBy("doc_id")
    },

    // C5 — the training-data cleaning pipeline composed end-to-end:
    // quality score + language ID -> keep en docs above threshold ->
    // exact-dedup keep-first -> per-doc stats. One declarative plan, so
    // Catalyst fuses the whole chain over a single documents scan.
    QueryDef.sql("p_corpus_clean",
      s"""SELECT doc_id, n_tokens, quality FROM ($keptSql)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // the score+gate+dedup chain is the staged corpus_kept table
      // (StagedTables — built once, shared with both composed-prep
      // queries); this is a 3-column pruned read of it
      StagedTables.corpusKept(s, d)
        .select("doc_id", "n_tokens", "quality").orderBy("doc_id")
    },

    // C6 — the FULL LLM corpus-prep pipeline: the C5 cleaning chain, then
    // MinHash+LSH near-dup removal over the survivors (keep the lower
    // doc_id of every verified pair, jaccard ≥ 0.5). One composed plan:
    // quality/langid/exact-dedup fuse over one documents scan, the
    // near-dup stage reuses the per-doc shingle sets, and the final
    // anti-join removes the near-dup losers. This is the end-to-end
    // shape of a pre-training data pipeline; every stage is the same
    // fragment already hash-verified standalone (C5, D3).
    QueryDef.sql("p_llm_prep",
      s"""WITH kept AS ($keptSql),
         |${DedupQueries.idsCte(3, "kept")},
         |${DedupQueries.minhashVerifyCte(0.5)}
         |SELECT doc_id, n_tokens, quality FROM kept
         |WHERE doc_id NOT IN (SELECT b FROM nd)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // both expensive stages are staged shared tables (StagedTables:
      // clean chain → corpus_kept, MinHash near-dup losers → llm_nd,
      // each built once and shared with p_llm_prep_pack); this query is
      // the anti-join of the two materialized artifacts
      StagedTables.corpusKept(s, d)
        .join(StagedTables.llmNd(s, d), Seq("doc_id"), "left_anti")
        .select("doc_id", "n_tokens", "quality")
        .orderBy("doc_id")
    },

    // C7 — corpus-wide token frequencies, top-20: explode the token
    // arrays and partial-aggregate — the map-side combine absorbs the
    // fan-out, the final top-k is TakeOrderedAndProject (no global
    // sort). The vocabulary-statistics staple of corpus analysis.
    QueryDef.sql("t_frequent_tokens",
      s"""SELECT tok, n FROM (
         |  SELECT tok, count(*) AS n
         |  FROM (SELECT unnest($toks) AS tok FROM documents)
         |  GROUP BY tok)
         |ORDER BY n DESC, tok LIMIT 20""".stripMargin) { (s, d) =>
      import graft.operators.Relational
      // r16: occurrence totals = Σk over the staged doc_tok_cnt grain —
      // identical counts, no per-query corpus tokenize.
      Relational.topKByAgg(
        graft.queries.StagedTables.docTokCnt(s, d)
          .groupBy("tok").agg(sum("k").as("n")),
        20, Seq(col("n").desc, col("tok")))
    },

    // C7x — the frequent-items SKETCH path of C7: `approx_top_k` keeps a
    // bounded (maxItemsTracked) summary that merges across partitions, so
    // heavy hitters over a 100 TB token stream cost one fixed-size state
    // per partition instead of the full token-frequency table C7 shuffles.
    // Estimator ⇒ rows-only; TextSpec binds it to C7: every exact top-10
    // token must appear in the sketch's top-20 with its exact count (the
    // corpus' heavy hitters are far above the sketch's error bound).
    QueryDef.rowsOnly("t_frequent_tokens_approx") { (s, d) =>
      // The sketch's point is bounded per-partition state over the raw
      // occurrence STREAM, so it keeps its own tokenize pass (unlike the
      // exact C7, which reads the staged counts) — spread across the
      // cluster (r16: single-row-group scan trap, one 14 s task at sf10).
      graft.queries.StagedTables.docsSpread(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .agg(expr("approx_top_k(tok, 20, 10000)").as("top"))
        .select(posexplode(col("top")).as(Seq("rank", "r")))
        .select((col("rank") + 1).cast("long").as("rank"),
          col("r.item").as("tok"), col("r.count").cast("long").as("n"))
    },

    // C10 — character-distribution entropy per doc: the classic
    // gibberish/binary-in-text detector (low entropy = repetitive junk,
    // near-log2(alphabet) = random noise), plus distinct-char count.
    // One partitioned pass: char histogram, per-doc total via window
    // (NOT a self-join — the t_tfidf lesson), entropy aggregate.
    // Determinism note: log2 is the one transcendental in the oracle
    // surface — libm vs JVM can drift 1 ulp, which the driver's
    // 9-significant-digit float compare absorbs (values, not ranks,
    // so SURVEY §4 rule 2 doesn't apply).
    QueryDef.sql("t_char_entropy",
      // log2 is PortableMath; the per-doc Σ p·log2 p pins on char order
      // (round-10 rule — see PortableMath's scaladoc).
      s"""WITH ch AS (SELECT doc_id, unnest(str_split(text, '')) AS c FROM documents),
        |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
        |w AS (SELECT doc_id, c, k, sum(k) OVER (PARTITION BY doc_id) AS n FROM cnt),
        |e AS (SELECT doc_id, c, CAST(k AS DOUBLE) / n AS p FROM w),
        |e2 AS (SELECT doc_id, c, p, ${PortableMath.log2Sql("p")} AS lg FROM e)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_chars,
        |  -list_reduce(list(p * lg ORDER BY c), (a, b) -> a + b) AS entropy
        |FROM e2 GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val cnt = StagedTables.docsWide(s, d)
        .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
        .groupBy("doc_id", "c").agg(count(lit(1)).as("k"))
      cnt.withColumn("n", sum("k").over(Window.partitionBy("doc_id")))
        .select(col("doc_id"), col("c"),
          (col("k").cast("double") / col("n")).as("p"))
        .withColumn("lg", PortableMath.pLog2(col("p")))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_distinct_chars"),
          (-expr("aggregate(array_sort(collect_list(named_struct('c', c, 'v', p * lg))), " +
            "CAST(0 AS DOUBLE), (a, x) -> a + x.v)")).as("entropy"))
        .orderBy("doc_id")
    },

    // C13 — repetition filters (the Gopher-rules family): fraction of
    // duplicate tokens and the most-frequent-bigram share, the two
    // signals that catch boilerplate/keyword-stuffed/looping docs that
    // length and punctuation ratios miss. One pass: tokenize once,
    // distinct-count via array_distinct in the same projection, bigram
    // mode via a per-(doc,bigram) count — both aggregates run WITHOUT an
    // exchange (the doc_id repartition satisfies clustering for the
    // (doc_id, bg) group-by, and Generate preserves it). All-integer
    // arithmetic plus one final division per ratio, so both engines agree
    // bit-for-bit.
    QueryDef.sql("t_repetition",
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |b0 AS (SELECT doc_id, len(toks) AS n_tokens,
         |         len(list_distinct(toks)) AS n_distinct,
         |         CASE WHEN len(toks) >= 2 THEN
         |           list_transform(range(0, len(toks)-1), i -> toks[i+1] || ' ' || toks[i+2])
         |           ELSE [] END AS bgs
         |       FROM t),
         |bc AS (SELECT doc_id, g, count(*) AS c
         |       FROM (SELECT doc_id, unnest(bgs) AS g FROM b0) GROUP BY 1, 2),
         |ba AS (SELECT doc_id, max(c) AS top_n, sum(c) AS nb FROM bc GROUP BY 1)
         |SELECT b0.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CASE WHEN n_tokens > 0
         |    THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens ELSE 0.0 END AS dup_token_frac,
         |  CAST(coalesce(top_n, 0) AS BIGINT) AS top_bigram_n,
         |  CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
         |  CASE WHEN coalesce(nb, 0) > 0
         |    THEN CAST(top_n AS DOUBLE) / nb ELSE 0.0 END AS top_bigram_frac
         |FROM b0 LEFT JOIN ba USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.operators.Dedup
      val base = graft.queries.StagedTables.docsWide(s, d)
        .select(col("doc_id"), tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          size(col("__toks")).as("n_tokens"),
          size(array_distinct(col("__toks"))).as("n_distinct"),
          explode_outer(Dedup.wordNgrams(col("__toks"), 2)).as("bg"))
      base.groupBy("doc_id", "n_tokens", "n_distinct", "bg")
        .agg(count(col("bg")).as("c"))
        .groupBy("doc_id", "n_tokens", "n_distinct")
        .agg(max(when(col("bg").isNotNull, col("c"))).as("top_n"),
          sum(when(col("bg").isNotNull, col("c"))).as("nb"))
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          when(col("n_tokens") > 0,
            lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"))
            .otherwise(0.0).as("dup_token_frac"),
          coalesce(col("top_n"), lit(0L)).cast("long").as("top_bigram_n"),
          coalesce(col("nb"), lit(0L)).cast("long").as("n_bigrams"),
          when(coalesce(col("nb"), lit(0L)) > 0,
            col("top_n").cast("double") / col("nb"))
            .otherwise(0.0).as("top_bigram_frac"))
        .orderBy("doc_id")
    },

    // C14 — overlapping token chunking (RAG / context-window prep): split
    // each document into windows of 64 tokens advancing by 48 (16-token
    // overlap), emitting per chunk its start offset, length, and an md5
    // signature of the joined tokens (compact cross-engine proof the
    // chunk CONTENT agrees, not just its bounds). The whole thing is one
    // narrow codegen'd projection — sequence → posexplode → slice — no
    // aggregate, no exchange: exactly the shape that streams a 100 TB
    // corpus through chunking at scan speed. Empty docs produce no
    // chunks (a window over nothing is nothing).
    QueryDef.sql("t_chunk_overlap",
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |c AS (SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS st
         |      FROM t WHERE len(toks) > 0),
         |ch AS (SELECT doc_id, st,
         |         list_slice(toks, st + 1, least(st + 64, len(toks))) AS chunk
         |       FROM c)
         |SELECT doc_id, CAST(st / 48 AS BIGINT) AS chunk_idx,
         |  CAST(st AS BIGINT) AS start_tok,
         |  CAST(len(chunk) AS BIGINT) AS n_toks,
         |  md5(array_to_string(chunk, ' ')) AS sig
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      graft.queries.StagedTables.docsSpread(s, d)
        .select(col("doc_id"), tokens(col("text")).as("__toks"))
        .filter(size(col("__toks")) > 0)
        .select(col("doc_id"), col("__toks"),
          posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(48))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          col("col").cast("long").as("start_tok"),
          slice(col("__toks"), col("col") + 1, lit(64)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
          size(col("chunk")).cast("long").as("n_toks"),
          md5(concat_ws(" ", col("chunk"))).as("sig"))
        .orderBy("doc_id", "chunk_idx")
    },

    // C4 — rolling-hash document fingerprint (char-stream polynomial fold;
    // production path is xxhash64 — see TextFunctions.xxFingerprint).
    QueryDef.sql("t_fingerprint",
      s"""SELECT doc_id, ${charFingerprintDuck("text")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), charFingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // C8 — per-document top-3 terms by tf-idf. The idf is the LINEAR form
    // score = tf·N/df: exact integer arithmetic + ONE double division, so
    // both engines rank identically (ln-damped idf is a monotone transform
    // of N/df — same plan shape — but libm ln is not bit-reproducible
    // across engines, and a 1-ulp drift at a rank boundary would flip the
    // hash; SURVEY §4 rule 2). Shape: tf agg on (doc,tok), df agg derived
    // FROM tf (already distinct doc-tok pairs — no second corpus pass),
    // scalar N crossJoined as a broadcast 1-row aggregate, per-doc top-k
    // window bounded by doc vocabulary.
    QueryDef.sql("t_tfidf",
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
         |dfx AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
         |         CAST(tf * n_docs AS DOUBLE) / df AS score
         |  FROM tf JOIN dfx USING (tok) CROSS JOIN nd),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY doc_id ORDER BY score DESC, tok) AS rnk
         |      FROM scored)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tok, tf, df, score
         |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = StagedTables.docsWide(s, d)
      // `tf` is read by BOTH the scoring branch and the df aggregation.
      // Left lazy, Catalyst plans the tokenize→explode→aggregate subtree
      // TWICE (exchange reuse doesn't apply — the consumers sit in
      // different stages), and the corpus is tokenized twice. Persist the
      // aggregate (vocab-per-doc rows, orders of magnitude smaller than
      // the text) so the corpus pass happens exactly once.
      val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .persist()
      // Document frequency is a vocabulary-sized table (distinct tokens) —
      // broadcast it so the tf⋈df join needs no shuffle and `tf`'s
      // doc_id partitioning flows through to the rank window below.
      val dfx = broadcast(tf.groupBy("tok").agg(count(lit(1)).as("df")))
      val nd = docs.select(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
      tf.join(dfx, "tok").crossJoin(broadcast(nd))
        .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("doc_id", "rnk", "tok", "tf", "df", "score")
        .orderBy("doc_id", "rnk")
    },

    // C9 — PII scrub: redact emails/URLs/phone numbers before a corpus
    // ships to training, reporting per-doc match counts and the scrubbed
    // text's hash (compact proof the redacted bytes agree). The synthetic
    // corpus carries no PII, so both sides enrich it with DETERMINISTIC
    // planted PII (keyed on doc_id) first — the scrubber is then verified
    // against known-positive and known-negative docs alike. Patterns stay
    // in the RE2 ∩ java.util.regex common dialect.
    QueryDef.sql("t_pii_scrub", {
      s"""WITH enriched AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0
         |      THEN ' contact user' || doc_id || '@example.com for details' ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0
         |      THEN ' see https://site' || doc_id || '.example.org/docs' ELSE '' END ||
         |    CASE WHEN doc_id % 7 = 0
         |      THEN ' call +1415555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         |    AS t FROM documents),
         |scrubbed AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(t, '$piiEmail')) AS BIGINT) AS n_email,
         |    CAST(len(regexp_extract_all(t, '$piiUrl')) AS BIGINT) AS n_url,
         |    CAST(len(regexp_extract_all(t, '$piiPhone')) AS BIGINT) AS n_phone,
         |    regexp_replace(regexp_replace(regexp_replace(t,
         |      '$piiEmail', '<EMAIL>', 'g'), '$piiUrl', '<URL>', 'g'),
         |      '$piiPhone', '<PHONE>', 'g') AS clean
         |  FROM enriched)
         |SELECT doc_id, n_email, n_url, n_phone,
         |       CAST(length(clean) AS BIGINT) AS clean_len, md5(clean) AS clean_sig
         |FROM scrubbed ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val t = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com for details"))).otherwise(""),
        when(col("doc_id") % 5 === 0,
          concat(lit(" see https://site"), col("doc_id").cast("string"),
            lit(".example.org/docs"))).otherwise(""),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call +1415555"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(""))
      val clean = regexp_replace(regexp_replace(regexp_replace(col("t"),
        lit(piiEmail), lit("<EMAIL>")), lit(piiUrl), lit("<URL>")),
        lit(piiPhone), lit("<PHONE>"))
      StagedTables.docsWide(s, d)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(piiEmail), lit(0))).cast("long").as("n_email"),
          size(regexp_extract_all(col("t"), lit(piiUrl), lit(0))).cast("long").as("n_url"),
          size(regexp_extract_all(col("t"), lit(piiPhone), lit(0))).cast("long").as("n_phone"),
          clean.as("clean"))
        .select(col("doc_id"), col("n_email"), col("n_url"), col("n_phone"),
          length(col("clean")).cast("long").as("clean_len"),
          md5(col("clean")).as("clean_sig"))
        .orderBy("doc_id")
    },

    // C11 — inverted index (token → document-frequency + capped posting
    // list): the retrieval-side artifact of a corpus. One explode →
    // distinct (doc,tok) → per-token rank window; postings are capped at
    // the 20 lowest doc_ids (a web-scale index caps or tiers hot terms the
    // same way) and emitted as a comma string in numeric doc order so both
    // engines serialize the list identically. df ≥ 5 prunes the hapax
    // tail, which is most of the vocabulary.
    QueryDef.sql("t_inverted_index", {
      val toks = tokensDuck("text")
      s"""WITH dt AS (SELECT DISTINCT doc_id, unnest($toks) AS tok FROM documents),
         |f AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1),
         |top AS (SELECT tok, doc_id, row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn FROM dt)
         |SELECT t.tok, max(f.df) AS df,
         |  string_agg(CAST(t.doc_id AS VARCHAR), ',' ORDER BY t.doc_id) AS postings
         |FROM top t JOIN f USING (tok)
         |WHERE t.rn <= 20 AND f.df >= 5
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // df grain is the staged doc_tok incidence (shared with C12); the
      // top-20 postings head is a rank-filter, which the TopKPerGroup
      // rewrite runs as a bounded heap — no full per-token sort window
      // over the corpus, and df comes from a vocabulary-sized aggregate
      // broadcast back on.
      val dt = StagedTables.docTok(s, d)
      val w = Window.partitionBy("tok").orderBy("doc_id")
      val top = dt.select(col("tok"), col("doc_id"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 20)
      val f = dt.groupBy("tok").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 5)
      top.join(broadcast(f), "tok")
        .groupBy("tok")
        .agg(max("df").as("df"),
          array_join(
            transform(sort_array(collect_list(col("doc_id"))),
              x => x.cast("string")), ",").as("postings"))
        .orderBy("tok")
    },

    // C12 — token co-occurrence PMI: pointwise mutual information of
    // mid-frequency token pairs sharing a document. The df band
    // (50..400) is the hot-key guard — stopword-frequency tokens would
    // co-occur with everything and make the per-doc pair explosion
    // quadratic in the worst tokens; banding bounds pairs per doc by the
    // banded vocabulary. PMI = ln(n_ab·N / (df_a·df_b)) over exact
    // integer counts — ln is the one transcendental (C10's precedent:
    // values not ranks, 9-sig-digit compare absorbs libm ulp drift).
    QueryDef.sql("t_cooccur_pmi", {
      val toks = tokensDuck("text")
      s"""WITH dt AS (SELECT DISTINCT doc_id, unnest($toks) AS tok FROM documents),
         |f AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1),
         |mid AS (SELECT tok, df FROM f WHERE df BETWEEN 50 AND 400),
         |dtm AS (SELECT dt.doc_id, dt.tok FROM dt JOIN mid USING (tok)),
         |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
         |pair AS (SELECT a.tok AS ta, b.tok AS tb, count(*) AS n_ab
         |  FROM dtm a JOIN dtm b ON a.doc_id=b.doc_id AND a.tok < b.tok GROUP BY 1,2),
         |pm AS (SELECT ta, tb, n_ab,
         |  CAST(n_ab AS DOUBLE) * nd.n / (CAST(fa.df AS DOUBLE) * fb.df) AS ratio
         |  FROM pair JOIN mid fa ON pair.ta=fa.tok JOIN mid fb ON pair.tb=fb.tok, nd
         |  WHERE n_ab >= 10)
         |SELECT ta, tb, n_ab, ${PortableMath.lnSql("ratio")} AS pmi
         |FROM pm ORDER BY ta, tb""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      // the explode+distinct incidence is the staged doc_tok table
      val dt = StagedTables.docTok(s, d)
      val f = dt.groupBy("tok").agg(count(lit(1)).as("df"))
      val mid = f.filter(col("df").between(50, 400))
      val dtm = dt.join(broadcast(mid.select("tok")), "tok")
      val nd = docs.agg(count_distinct(col("doc_id")).cast("double").as("n"))
      val pair = dtm.select(col("doc_id"), col("tok").as("ta"))
        .join(dtm.select(col("doc_id"), col("tok").as("tb")), "doc_id")
        .filter(col("ta") < col("tb"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 10)
      pair
        .join(broadcast(mid.select(col("tok").as("ta"), col("df").as("dfa"))), "ta")
        .join(broadcast(mid.select(col("tok").as("tb"), col("df").as("dfb"))), "tb")
        .crossJoin(broadcast(nd))
        .select(col("ta"), col("tb"), col("n_ab"),
          (col("n_ab").cast("double") * col("n") /
            (col("dfa").cast("double") * col("dfb"))).as("ratio"))
        .select(col("ta"), col("tb"), col("n_ab"),
          PortableMath.pLn(col("ratio")).as("pmi"))
        .orderBy("ta", "tb")
    },

    // C20 — bigram-LM cross-entropy per doc: C16's joint-distribution
    // machinery one order up. The unigram CE scores vocabulary choice;
    // the bigram CE scores WORD ORDER — shuffled or templated text keeps
    // its unigram CE but its bigram distribution collapses toward noise,
    // which is why perplexity filters use n≥2 models. Same fixed shape:
    // per-(doc, bigram) aggregate persisted (corpus sees the tokenizer
    // once), bigram-vocabulary frequencies broadcast, per-doc reduce on
    // the inherited doc partitioning. Docs under 2 tokens drop out in
    // both engines by construction.
    QueryDef.sql("t_bigram_ce",
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(range(0, len(tk)-1),
         |                i -> tk[i+1] || ' ' || tk[i+2])) AS bg
         |       FROM t WHERE len(tk) >= 2),
         |bfd AS (SELECT doc_id, bg, count(*) AS k FROM bg GROUP BY 1, 2),
         |freq AS (SELECT bg, CAST(round(${PortableMath.lnSql("CAST(sum(k) AS DOUBLE)")} * 1099511627776.0) AS BIGINT) AS ln_fp FROM bfd GROUP BY 1),
         |tot AS (SELECT CAST(sum(k) AS DOUBLE) AS nn FROM bfd),
         |tot2 AS (SELECT ${PortableMath.lnSql("nn")} AS ln_nn FROM tot)
         |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
         |  max(ln_nn) - CAST(sum(k * ln_fp) AS BIGINT) / 1099511627776.0 / CAST(sum(k) AS DOUBLE) AS ce
         |FROM bfd JOIN freq USING (bg) CROSS JOIN tot2
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Three narrow exchanges instead of the r7 plan's four wide ones,
      // and the expensive stage (tokenize + bigram explode) both native
      // (graft_shingles: one compiled byte-scan per doc vs ~20 CPU-s of
      // interpreted HOF evaluation — ShingleExpr, spec'd bit-identical)
      // and pinned at cluster parallelism:
      //  (1) docsWide spreads docs by doc_id — parallelizes shingling (the
      //      scan is one input split; un-repartitioned, the whole explode
      //      runs on a single task — measured 9 s of the query);
      //  (2) the (doc_id,bg) count then needs NO exchange (doc_id ⊆ keys),
      //      and the AGGREGATED bfd repartitions once by bg — after which
      //      hashpartitioning(bg) satisfies the freq aggregate AND the
      //      bfd⋈freq equi-join, so neither shuffles;
      //  (3) only the final per-doc reduce exchanges again.
      val fan = s.sparkContext.defaultParallelism
      val bfd = StagedTables.docsWide(s, d)
        .select(col("doc_id"),
          explode(call_function("graft_shingles", col("text"), lit(2))).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("k"))
        .repartition(fan, col("bg"))
        .persist()
      // UNLIKE the unigram case, the bigram vocabulary GROWS with the
      // corpus (new word pairs keep appearing) — a forced broadcast here
      // is an OOM at 100 TB, so the freq join is left to the threshold +
      // AQE (broadcast locally, shuffle at scale; the same rule as the
      // sf-proportional dims in q5). Only the 1-row total broadcasts.
      // FIXED-POINT ln (the idf_fp discipline from E12): ln quantized to
      // the 2^-40 grid — ×2^40 is an exact exponent shift, so both
      // engines round the bit-identical pLn double to the same BIGINT —
      // and the per-doc Σ k·ln_fp becomes an EXACT integer sum:
      // associative, map-side combinable, streaming in both engines. The
      // r14 form pinned float order with an ordered-list fold instead,
      // and DuckDB's list() aggregation cannot spill — the sf10 oracle
      // died of MemoryError on exactly that operator. Headroom:
      // Σ k·ln_fp ≤ doc_bigrams × ln(nn)·2^40 ≈ 2^63 only past ~400k
      // bigrams per document. The quantum (2^-40 ≈ 1e-12) sits far below
      // the gate's 9-sig-digit compare.
      val freq = bfd.groupBy("bg")
        .agg(round(PortableMath.pLn(sum("k").cast("double"))
          * lit(1099511627776.0)).cast("long").as("ln_fp"))
      val tot2 = broadcast(bfd.agg(sum("k").cast("double").as("nn"))
        .select(PortableMath.pLn(col("nn")).as("ln_nn")))
      bfd.join(freq, "bg").crossJoin(tot2)
        .groupBy("doc_id")
        .agg(sum("k").cast("long").as("n_bigrams"),
          (max(col("ln_nn")) -
            sum(col("k") * col("ln_fp")).cast("long") / lit(1099511627776.0)
              / sum(col("k")).cast("double")).as("ce"))
        .orderBy("doc_id")
    },

    // C16 — unigram-LM cross-entropy per doc (the CCNet-style perplexity
    // quality filter, with the corpus itself as the LM): ce =
    // ln(N) − Σ k·ln(n_tok) / n_tokens. Reuses t_tfidf's fixed shape —
    // the per-(doc,token) aggregate persists so the corpus tokenizes
    // ONCE, the vocabulary-sized frequency table broadcasts, and the
    // per-doc reduce inherits the doc_id partitioning. ln is C10's
    // transcendental precedent (values not ranks; 9-sig-digit compare).
    QueryDef.sql("t_unigram_ce",
      // ln is PortableMath (round-10 rule: no libm in a gated double) and
      // the per-doc Σ k·ln(n) is a token-ordered pinned fold — the two
      // engines' hash-group accumulation orders are host-dependent.
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         |tfd AS (SELECT doc_id, tok, count(*) AS k FROM t GROUP BY 1, 2),
         |freq AS (SELECT tok, ${PortableMath.lnSql("CAST(sum(k) AS DOUBLE)")} AS ln_n FROM tfd GROUP BY 1),
         |tot AS (SELECT CAST(sum(k) AS DOUBLE) AS nn FROM tfd),
         |tot2 AS (SELECT ${PortableMath.lnSql("nn")} AS ln_nn FROM tot)
         |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
         |  max(ln_nn) - list_reduce(list(k * ln_n ORDER BY tok), (a, b) -> a + b) / sum(k) AS ce
         |FROM tfd JOIN freq USING (tok) CROSS JOIN tot2
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import PortableMath.pLn
      // r16: tfd IS the staged doc_tok_cnt table (same build expression);
      // the parquet materialization replaces the per-query persist.
      val tfd = graft.queries.StagedTables.docTokCnt(s, d)
      val freq = broadcast(tfd.groupBy("tok")
        .agg(pLn(sum("k").cast("double")).as("ln_n")))
      val tot2 = broadcast(tfd.agg(sum("k").cast("double").as("nn"))
        .select(pLn(col("nn")).as("ln_nn")))
      tfd.join(freq, "tok").crossJoin(tot2)
        .groupBy("doc_id")
        .agg(sum("k").cast("long").as("n_tokens"),
          (max(col("ln_nn")) -
            expr("aggregate(array_sort(collect_list(named_struct('tok', tok, 'v', k * ln_n))), " +
              "CAST(0 AS DOUBLE), (a, x) -> a + x.v)") / sum(col("k"))).as("ce"))
        .orderBy("doc_id")
    },

    // C15 — Unicode normalization (native graft_nfc / graft_strip_accents
    // expressions; Spark has no built-in): the corpus is ASCII, so
    // decomposed accents are PLANTED deterministically — every 'a'
    // becomes 'a'+U+0301 combining acute — then NFC must compose them
    // (U+00E1, shrinking the code-point length back) and accent-stripping
    // must recover the original text exactly. Hashes of both outputs gate
    // byte-level parity between java.text.Normalizer and DuckDB's
    // utf8proc; `stripped_eq_orig` makes the round-trip explicit. One
    // narrow codegen'd projection — normalization streams at scan speed.
    QueryDef.sql("t_normalize",
      """SELECT doc_id,
        |  length(messy) AS len_messy,
        |  length(nfc_normalize(messy)) AS len_nfc,
        |  md5(nfc_normalize(messy)) AS nfc_sig,
        |  md5(strip_accents(messy)) AS stripped_sig,
        |  strip_accents(messy) = text AS stripped_eq_orig
        |FROM (SELECT doc_id, text, replace(text, 'a', 'a' || chr(769)) AS messy
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.functions.TextFunctions
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          regexp_replace(col("text"), "a", "a\u0301").as("messy"))
        .select(col("doc_id"),
          length(col("messy")).cast("long").as("len_messy"),
          length(TextFunctions.nfcNormalize(col("messy"))).cast("long").as("len_nfc"),
          md5(TextFunctions.nfcNormalize(col("messy"))).as("nfc_sig"),
          md5(TextFunctions.stripAccents(col("messy"))).as("stripped_sig"),
          (TextFunctions.stripAccents(col("messy")) === col("text")).as("stripped_eq_orig"))
        .orderBy("doc_id")
    },

    // C17 — Jensen-Shannon divergence between two sources' token
    // distributions (the corpus-comparison / domain-shift measure; 0 =
    // identical, ln 2 = disjoint). Each side reduces to a
    // vocabulary-sized frequency table (one explode + partial agg — the
    // only data-scale stages); the full-outer vocabulary join and the
    // final 1-row reduce are vocabulary-sized. Probabilities are single
    // divisions of exact counts; ln per C10's values-not-ranks precedent;
    // the JS sum is all-positive terms (well-conditioned — addition-order
    // drift lands far below the 9-sig-digit gate).
    QueryDef.sql("t_js_divergence", {
      val toksSql = tokensDuck("text")
      s"""WITH tf AS (SELECT source, tok, count(*) AS n
         |            FROM (SELECT source, unnest($toksSql) AS tok FROM documents
         |                  WHERE source IN ('src0','src1'))
         |            GROUP BY 1, 2),
         |tot AS (SELECT source, sum(n) AS t FROM tf GROUP BY 1),
         |a AS (SELECT tok, CAST(n AS DOUBLE) / t AS p FROM tf JOIN tot USING (source)
         |      WHERE source = 'src0'),
         |b AS (SELECT tok, CAST(n AS DOUBLE) / t AS q FROM tf JOIN tot USING (source)
         |      WHERE source = 'src1'),
         |j AS (SELECT coalesce(a.tok, b.tok) AS tok,
         |             coalesce(a.p, 0.0) AS p, coalesce(b.q, 0.0) AS q
         |      FROM a FULL JOIN b ON a.tok = b.tok),
         |r AS (SELECT tok, p, q, p / ((p + q) / 2) AS rp, q / ((p + q) / 2) AS rq FROM j),
         |term AS (SELECT tok,
         |  CASE WHEN p > 0 THEN 0.5 * p * ${PortableMath.lnSql("rp")} ELSE 0 END
         |    + CASE WHEN q > 0 THEN 0.5 * q * ${PortableMath.lnSql("rq")} ELSE 0 END AS v
         |  FROM r)
         |SELECT CAST(count(*) AS BIGINT) AS vocab,
         |  list_reduce(list(v ORDER BY tok), (a, b) -> a + b) AS js
         |FROM term""".stripMargin
    }) { (s, d) =>
      val tf = Tables.documents(s, d)
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("n"))
      val tot = tf.groupBy("source").agg(sum("n").as("t"))
      val dist = tf.join(broadcast(tot), "source")
        .select(col("source"), col("tok"), (col("n").cast("double") / col("t")).as("pr"))
      val a = dist.filter(col("source") === "src0").select(col("tok"), col("pr").as("p"))
      val b = dist.filter(col("source") === "src1")
        .select(col("tok").as("tok_b"), col("pr").as("q"))
      val j = a.join(b, col("tok") === col("tok_b"), "full_outer")
        .select(coalesce(col("tok"), col("tok_b")).as("tok"),
          coalesce(col("p"), lit(0.0)).as("p"), coalesce(col("q"), lit(0.0)).as("q"))
      val m = (col("p") + col("q")) / 2
      val term = j
        .select(col("tok"), col("p"), col("q"),
          (col("p") / m).as("rp"), (col("q") / m).as("rq"))
        .select(col("tok"),
          (when(col("p") > 0, lit(0.5) * col("p") * PortableMath.pLn(col("rp"))).otherwise(0.0) +
            when(col("q") > 0, lit(0.5) * col("q") * PortableMath.pLn(col("rq"))).otherwise(0.0)).as("v"))
      term.agg(count(lit(1)).cast("long").as("vocab"),
        expr("aggregate(array_sort(collect_list(named_struct('tok', tok, 'v', v))), " +
          "CAST(0 AS DOUBLE), (a, x) -> a + x.v)").as("js"))
    },

    // C18 — corpus lexical profile: total tokens, vocabulary size, hapax
    // legomena count/share, type-token ratio. The one-number health
    // checks of a tokenized corpus (a hapax share far from ~0.4-0.6 or a
    // collapsing TTR flags boilerplate or synthetic text). One explode +
    // one vocabulary-sized aggregate + a 1-row reduce; every ratio is a
    // single division of exact counts.
    QueryDef.sql("t_lexical_stats", {
      val toksSql = tokensDuck("text")
      s"""WITH tf AS (SELECT tok, count(*) AS n
         |            FROM (SELECT unnest($toksSql) AS tok FROM documents) GROUP BY 1)
         |SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS vocab,
         |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS hapax_share,
         |  CAST(count(*) AS DOUBLE) / sum(n) AS type_token_ratio
         |FROM tf""".stripMargin
    }) { (s, d) =>
      // r16: tf from the staged doc_tok_cnt grain (Σk per token).
      val tf = graft.queries.StagedTables.docTokCnt(s, d)
        .groupBy("tok").agg(sum("k").as("n"))
      tf.agg(sum("n").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("vocab"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).cast("long").as("hapax"),
        (sum(when(col("n") === 1, 1L).otherwise(0L)).cast("double") / count(lit(1)))
          .as("hapax_share"),
        (count(lit(1)).cast("double") / sum("n")).as("type_token_ratio"))
    },

    // C19 — Zipf-law fit: OLS slope/intercept of ln(freq) on ln(rank)
    // over the top-1000 tokens (natural corpora fit slope ≈ −1; strong
    // deviation flags templated or synthetic text). The frequency table
    // is vocabulary-sized, the rank window runs over its top slice, and
    // the regression is a closed-form 1-row reduce — co-moment sums of
    // ~1000 ln values are well inside the 9-sig-digit gate (ln per C10's
    // precedent). Rank order is deterministic: (n DESC, tok) is a total
    // order, and ties in n swap equal ln(freq) values — the fit is
    // tie-order invariant.
    QueryDef.sql("t_zipf_fit", {
      val toksSql = tokensDuck("text")
      s"""WITH tf AS (SELECT tok, count(*) AS n
         |            FROM (SELECT unnest($toksSql) AS tok FROM documents) GROUP BY 1),
         |top AS (SELECT row_number() OVER (ORDER BY n DESC, tok) AS rk, n
         |        FROM tf ORDER BY n DESC, tok LIMIT 1000),
         |lg AS (SELECT rk, ${PortableMath.lnSql("CAST(rk AS DOUBLE)")} AS x,
         |               ${PortableMath.lnSql("CAST(n AS DOUBLE)")} AS y FROM top),
         |s AS (SELECT count(*) AS k,
         |  list_reduce(list(x ORDER BY rk), (a, b) -> a + b) AS sx,
         |  list_reduce(list(y ORDER BY rk), (a, b) -> a + b) AS sy,
         |  list_reduce(list(x*x ORDER BY rk), (a, b) -> a + b) AS sxx,
         |  list_reduce(list(x*y ORDER BY rk), (a, b) -> a + b) AS sxy FROM lg)
         |SELECT CAST(k AS BIGINT) AS k,
         |  (k * sxy - sx * sy) / (k * sxx - sx * sx) AS slope,
         |  (sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k AS intercept
         |FROM s""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // r16: tf from the staged doc_tok_cnt grain (Σk per token).
      val tf = graft.queries.StagedTables.docTokCnt(s, d)
        .groupBy("tok").agg(sum("k").as("n"))
      // Distributed top-k FIRST (TakeOrderedAndProject — per-partition
      // heaps, no global sort), then rank only the 1000 survivors with
      // the single-partition window. Ranking the full vocabulary-sized
      // tf table in one window task was this query's 2 s hotspot; the
      // window input is now a constant 1000 rows at any corpus scale.
      def pinned(v: String) =
        expr(s"aggregate(array_sort(collect_list(named_struct('rk', rk, 'v', $v))), " +
          "CAST(0 AS DOUBLE), (a, p) -> a + p.v)")
      val top = tf
        .orderBy(col("n").desc, col("tok")).limit(1000)
        .select(col("n"), row_number().over(Window.orderBy(col("n").desc, col("tok"))).as("rk"))
        .select(col("rk"), PortableMath.pLn(col("rk").cast("double")).as("x"),
          PortableMath.pLn(col("n").cast("double")).as("y"))
      val st = top.agg(count(lit(1)).as("k"), pinned("x").as("sx"), pinned("y").as("sy"),
        pinned("x*x").as("sxx"), pinned("x*y").as("sxy"))
      val slope = (col("k") * col("sxy") - col("sx") * col("sy")) /
        (col("k") * col("sxx") - col("sx") * col("sx"))
      st.select(col("k").cast("long").as("k"), slope.as("slope"),
        ((col("sy") - slope * col("sx")) / col("k")).as("intercept"))
    },

    // C21 — chi-square keyword extraction: the top-10 tokens most
    // associated with each language by the 2×2 presence/class chi²
    // (the classic supervised feature-selection / "what characterizes
    // this slice" operator). Doc-level presence (distinct (doc, tok))
    // is the one data-scale pass; the contingency cells derive from the
    // vocabulary-sized (lang, tok) table + broadcast class sizes. The
    // C12 df band (5..400) guards both the hapax tail and the
    // denominator zeros of all-corpus tokens. All four cells are
    // integers; chi² is one fixed expression over their exact double
    // images (every product < 2⁵³ at this scale — explicit multiplies,
    // no pow, so ranking compares bit-identical doubles); ties break on
    // token.
    QueryDef.sql("t_chi2_keywords", {
      val toksSql = tokensDuck("text")
      s"""WITH dt AS (SELECT doc_id, lang, tok FROM
         |             (SELECT doc_id, lang, unnest($toksSql) AS tok FROM documents)
         |           GROUP BY 1, 2, 3),
         |lt AS (SELECT lang, tok, count(*) AS a FROM dt GROUP BY 1, 2),
         |dfreq AS (SELECT tok, sum(a) AS df FROM lt GROUP BY 1
         |          HAVING sum(a) BETWEEN 5 AND 400),
         |nl AS (SELECT lang, count(*) AS nl FROM documents GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |cells AS (SELECT lt.lang, lt.tok, lt.a,
         |            dfreq.df - lt.a AS b, nl.nl - lt.a AS c,
         |            nn.n - nl.nl - (dfreq.df - lt.a) AS dd
         |          FROM lt JOIN dfreq USING (tok) JOIN nl USING (lang) CROSS JOIN nn),
         |chi AS (SELECT lang, tok, a,
         |          CAST(a + b + c + dd AS DOUBLE)
         |            * ((CAST(a AS DOUBLE) * dd - CAST(b AS DOUBLE) * c)
         |               * (CAST(a AS DOUBLE) * dd - CAST(b AS DOUBLE) * c))
         |            / (CAST(a + b AS DOUBLE) * (c + dd) * (a + c) * (b + dd)) AS chi2
         |        FROM cells)
         |SELECT lang, rank, tok, CAST(a AS BIGINT) AS n_docs, chi2 FROM (
         |  SELECT lang, tok, a, chi2,
         |    row_number() OVER (PARTITION BY lang ORDER BY chi2 DESC, tok) AS rank
         |  FROM chi)
         |WHERE rank <= 10 ORDER BY lang, rank""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = StagedTables.docsWide(s, d)
      // Doc-frequency via per-row array_distinct, not a global (doc, tok)
      // DISTINCT: doc_id is unique per row, so deduping a token WITHIN its
      // document is a narrow per-row operation — the corpus-wide exchange
      // the r7 plan paid for the same answer was pure waste. One tokenize
      // pass, one vocabulary-sized exchange; pinned because both the df
      // band filter and the contingency cells close over it (un-pinned,
      // the whole tokenize subtree planned — and ran — twice).
      val lt = docs
        .select(col("lang"), explode(array_distinct(tokens(col("text")))).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("a"))
        .localCheckpoint(true)
      val dfreq = lt.groupBy("tok").agg(sum("a").as("df"))
        .filter(col("df").between(5, 400))
      val nl = docs.groupBy("lang").agg(count(lit(1)).as("nl"))
      // total docs = Σ per-class docs — derived, not a third corpus scan
      val nn = nl.agg(sum("nl").as("n"))
      val cells = lt.join(dfreq, "tok")
        .join(broadcast(nl), "lang").crossJoin(broadcast(nn))
        .select(col("lang"), col("tok"), col("a"),
          (col("df") - col("a")).as("b"), (col("nl") - col("a")).as("c"),
          (col("n") - col("nl") - (col("df") - col("a"))).as("dd"))
      val x = col("a").cast("double") * col("dd") - col("b").cast("double") * col("c")
      val chi = cells.select(col("lang"), col("tok"), col("a"),
        ((col("a") + col("b") + col("c") + col("dd")).cast("double") * (x * x) /
          ((col("a") + col("b")).cast("double") * (col("c") + col("dd")) *
            (col("a") + col("c")) * (col("b") + col("dd")))).as("chi2"))
      val w = Window.partitionBy("lang").orderBy(col("chi2").desc, col("tok"))
      chi.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("lang"), col("rank"), col("tok"),
          col("a").cast("long").as("n_docs"), col("chi2"))
        .orderBy("lang", "rank")
    },

    // C22 — corpus composition audit per source: doc/token volume,
    // dominant language + its share, and language-mix entropy — the
    // one-page answer to "what is actually in this source?" before it
    // enters a mix (H2 takes rates; this is where the rates come from).
    // Everything reduces to the (source, lang) count grid (one partial
    // agg) plus a token-count agg; entropy is ≤5 ln terms per source.
    QueryDef.sql("t_source_composition", {
      val toksSql = tokensDuck("text")
      s"""WITH sl AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
         |st AS (SELECT source, sum(n) AS nd FROM sl GROUP BY 1),
         |tok AS (SELECT source, CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |        FROM documents GROUP BY 1),
         |ep AS (SELECT sl.source, sl.lang, CAST(sl.n AS DOUBLE)/st.nd AS p
         |       FROM sl JOIN st USING (source)),
         |ep2 AS (SELECT source, lang, p, ${PortableMath.lnSql("p")} AS lp FROM ep),
         |ent AS (SELECT source,
         |          list_reduce(list(-(p * lp) ORDER BY lang), (a, b) -> a + b) AS lang_entropy
         |        FROM ep2 GROUP BY 1),
         |top AS (SELECT source, lang AS top_lang, n FROM (
         |          SELECT source, lang, n,
         |            row_number() OVER (PARTITION BY source ORDER BY n DESC, lang) AS rk
         |          FROM sl) WHERE rk = 1)
         |SELECT st.source, CAST(st.nd AS BIGINT) AS n_docs, tok.n_tokens,
         |  top.top_lang, CAST(top.n AS DOUBLE) / st.nd AS top_lang_share,
         |  ent.lang_entropy
         |FROM st JOIN tok USING (source) JOIN top USING (source)
         |        JOIN ent USING (source)
         |ORDER BY source""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = StagedTables.docsWide(s, d)
      // ONE corpus pass: doc counts AND token totals in the same
      // (source, lang) partial agg — a separate token aggregate would
      // tokenize the whole corpus a second time. Everything below runs
      // on the sources×langs grid, pinned once (localCheckpoint — it
      // feeds four consumers).
      val sl = docs.groupBy("source", "lang")
        .agg(count(lit(1)).as("n"), sum(tokenCount(col("text"))).as("tk"))
        .localCheckpoint(true)
      val st = sl.groupBy("source")
        .agg(sum("n").as("nd"), sum("tk").cast("long").as("n_tokens"))
      val ent = sl.join(broadcast(st.select("source", "nd")), "source")
        .select(col("source"), col("lang"),
          (col("n").cast("double") / col("nd")).as("p"))
        .withColumn("lp", PortableMath.pLn(col("p")))
        .groupBy("source").agg(
          expr("aggregate(array_sort(collect_list(named_struct('lang', lang, 'v', -(p * lp)))), " +
            "CAST(0 AS DOUBLE), (a, x) -> a + x.v)").as("lang_entropy"))
      val w = Window.partitionBy("source").orderBy(col("n").desc, col("lang"))
      val top = sl.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("source"), col("lang").as("top_lang"), col("n"))
      st.join(top, "source").join(ent, "source")
        .select(col("source"), col("nd").cast("long").as("n_docs"),
          col("n_tokens"), col("top_lang"),
          (col("n").cast("double") / col("nd")).as("top_lang_share"),
          col("lang_entropy"))
        .orderBy("source")
    },

    // C23 — per-doc n-gram NOVELTY: the fraction of a doc's distinct
    // trigram shingles whose corpus-wide FIRST owner (min doc_id) is this
    // doc — the document-level complement of D2's pairwise overlap ("how
    // much of this doc is new to the corpus" vs "which docs overlap"),
    // and the metric a crawl-ordered ingest uses to price a source's
    // marginal contribution. Reuses the D2 shingle machinery verbatim:
    // doc→gid-set in one native pass, first-owner is a gid-keyed partial
    // min, and the closing join is gid-co-partitioned with it — the text
    // never moves after the first pass.
    QueryDef.sql("t_ngram_novelty",
      s"""WITH ${DedupQueries.idsCte(3)},
         |fo AS (SELECT gid, min(doc) AS first_doc FROM ids GROUP BY 1),
         |per AS (SELECT ids.doc, count(*) AS n_grams,
         |        CAST(sum(CASE WHEN fo.first_doc = ids.doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |        FROM ids JOIN fo USING (gid) GROUP BY 1)
         |SELECT doc AS doc_id, n_grams, n_novel,
         |  CAST(n_novel AS DOUBLE)/n_grams AS novelty
         |FROM per ORDER BY doc_id""".stripMargin) { (s, d) =>
      // r16: the doc→gid-set pass IS the staged raw_docsets3 table
      // (same hashedDocSets(documents, 3) expression); re-deriving it
      // here re-tokenized the whole corpus (sf10: most of the 16.6 s).
      val ids = graft.queries.StagedTables.rawDocSets3(s, d)
        .select(col("doc"), explode(col("gs")).as("gid"))
      val fo = ids.groupBy("gid").agg(min("doc").as("first_doc"))
      ids.join(fo, "gid")
        .groupBy(col("doc").as("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_grams")).as("novelty"))
        .orderBy("doc_id")
    },

    // C24 — BPE merge TRAINING (C1x tokenizes with a fixed scheme; this
    // LEARNS one): the standard pipeline shape — the only corpus-scale
    // stage is ONE tokenize + word-frequency aggregate, and merge
    // learning runs over the VOCABULARY-sized (word, count) table, which
    // is dimension-sized at any corpus volume (a 100 TB crawl still has
    // ~10⁵-10⁶ distinct words; HF/sentencepiece train exactly this way —
    // count words distributed, learn merges on the frequency table).
    // Merges are learned on the driver over that table (the F12/B97
    // dim-collect discipline): 12 rounds of weighted adjacent-pair
    // counts, argmax with a TOTAL tie-break (count DESC, then pair
    // lexicographic ASC) — integer counts + total order ⇒ the merge
    // sequence is fully deterministic. Iterative ⇒ rows-only;
    // MetricsSpec pins round-1 against an independent recompute, the
    // non-increasing max-count invariant (a merged pair's successors
    // can't outnumber it), and that applying the merges re-segments a
    // word consistently.
    QueryDef.rowsOnly("t_bpe_train")(TextQueries.bpeTrain(_, _, minCount = 2)),

    // C24x — BPE ENCODE: apply the merge table C24 learns to the corpus —
    // the missing half of the train→encode→budget loop (r10 verdict item
    // 4: C1x counts tokens with a fixed regex scheme; this counts them
    // under the LEARNED tokenizer, which is what a token budget for an
    // actual model run needs). Scale shape: the merge table is a
    // tokenizer artifact (hyperparameter-sized — 12 rows here, ≤ vocab
    // size always), so it folds into the PLAN as literals; encoding runs
    // once per DISTINCT word (dictionary encode — the corpus's occurrence
    // table joins the vocabulary-sized result back by broadcast), never
    // once per token occurrence; each merge round is one codegen'd
    // aggregate() fold over the word's symbol array, reproducing the
    // train loop's merge-then-skip scan exactly (MetricsSpec pins the
    // per-word segmentation against an independent driver recompute).
    // Iterative training input ⇒ rows-only, like C24 itself.
    QueryDef.rowsOnly("t_bpe_encode") { (s, d) =>
      val merges = TextQueries.bpeTrain(s, d, minCount = 2)
        .orderBy("round").collect() // merge-table-sized (training artifact)
        .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
      // r16: the per-(doc, word) occurrence table IS the staged
      // doc_tok_cnt grain (same build expression, renamed columns).
      val occ = graft.queries.StagedTables.docTokCnt(s, d)
        .select(col("doc_id"), col("tok").as("w"), col("k").as("c"))
      val enc = merges.foldLeft(
        concat(split(col("w"), ""), array(lit("</w>")))) {
        case (c0, (l, r)) => TextQueries.bpeApplyMerge(c0, l, r)
      }
      val encoded = occ.select("w").distinct() // vocabulary-sized
        .select(col("w"), size(enc).as("n_sym"))
      occ.join(broadcast(encoded), "w")
        .groupBy("doc_id")
        .agg(sum("c").as("n_words"),
          sum(col("c") * col("n_sym")).as("n_bpe_tokens"))
        .orderBy("doc_id")
    },

    // C25 — token TREND detection (emerging-topic surfacing — which
    // vocabulary is gaining share across ingest cohorts): per-cohort
    // token share (cohort = ingest-id mod 12, standing in for the crawl
    // month this synthetic corpus lacks), then a per-token closed-form
    // OLS slope of share over cohort index, top-10 risers. Share terms
    // re-enter DECIMAL(28,18) before the per-token sums (B84 — each
    // token's cohort order must not perturb its slope); all slope inputs
    // are exact, one double division per token; the grid is
    // vocab×cohorts-sized at any corpus volume.
    QueryDef.sql("t_token_trend",
      s"""WITH tk AS (SELECT doc_id % 12 AS m, unnest(list_distinct($toks)) AS tok FROM documents),
         |mt AS (SELECT CAST(m AS BIGINT) AS m, tok, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
         |tot AS (SELECT m, CAST(sum(c) AS BIGINT) AS mc FROM mt GROUP BY 1),
         |sh AS (SELECT mt.m, tok, CAST(c AS DOUBLE)/mc AS share FROM mt JOIN tot USING (m)),
         |sl AS (SELECT tok, CAST(count(*) AS BIGINT) AS nm,
         |        CAST(sum(m) AS BIGINT) AS sx,
         |        list_reduce(list(share ORDER BY m), (a, b) -> a + b) AS sy,
         |        CAST(sum(m*m) AS BIGINT) AS sxx,
         |        list_reduce(list(m*share ORDER BY m), (a, b) -> a + b) AS sxy
         |       FROM sh GROUP BY 1)
         |SELECT tok, nm,
         |  (CAST(nm AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) /
         |  (CAST(nm AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) AS slope
         |FROM sl WHERE nm >= 6 ORDER BY slope DESC, tok LIMIT 10""".stripMargin) { (s, d) =>
      // r16: the distinct (doc, tok) incidence is the staged doc_tok_cnt
      // grain — cohort membership is a projection of it.
      val tk = graft.queries.StagedTables.docTokCnt(s, d)
        .select((col("doc_id") % 12).as("m"), col("tok"))
      val mt = tk.groupBy("m", "tok").agg(count(lit(1)).as("c"))
      val tot = mt.groupBy("m").agg(sum("c").as("mc"))
      val sh = mt.join(broadcast(tot), "m")
        .select(col("m"), col("tok"), (col("c").cast("double") / col("mc")).as("share"))
      // ROUND-10 RULE: never CAST a computed DOUBLE to a high-scale
      // DECIMAL for order-invariance — DuckDB's double→DECIMAL cast is
      // not correctly rounded (diverges from Spark's BigDecimal path on
      // most scale-18 values). Cohort-pinned double folds instead.
      def pinned(v: String) =
        expr(s"aggregate(array_sort(collect_list(named_struct('m', m, 'v', $v))), " +
          "CAST(0 AS DOUBLE), (a, x) -> a + x.v)")
      val sl = sh.groupBy("tok").agg(count(lit(1)).as("nm"),
        sum("m").as("sx"), pinned("share").as("sy"),
        sum(col("m") * col("m")).as("sxx"),
        pinned("m * share").as("sxy"))
      graft.operators.Relational.topKByAgg(
        sl.filter(col("nm") >= 6)
          .selectExpr("tok", "nm",
            """(CAST(nm AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) /
              |(CAST(nm AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) AS slope""".stripMargin),
        10, Seq(col("slope").desc, col("tok")))
    },

    // C26 — Flesch reading-ease per document: the classic readability
    // score as a quality-gate feature beside C2 (a corpus filter often
    // drops both unreadably dense AND trivially repetitive text).
    // Syllables are the standard vowel-group heuristic ([aeiouy]+ runs —
    // exact syllabification needs a dictionary; the heuristic is the
    // score's own published approximation), sentences are punctuation
    // runs floored at 1. Every input is an exact integer count from ONE
    // projection-only scan (regex counts, no explode, no shuffle —
    // embarrassingly parallel at 100 TB), and the score is one fixed
    // per-row IEEE expression — no cross-row double sums at all.
    QueryDef.sql("t_readability",
      s"""SELECT doc_id,
         |  CAST(len($toks) AS BIGINT) AS n_words,
         |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables,
         |  CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS n_sentences,
         |  CASE WHEN len($toks) > 0 THEN
         |    206.835
         |      - 1.015 * (CAST(len($toks) AS DOUBLE)
         |          / greatest(1, len(regexp_extract_all(text, '[.!?]+'))))
         |      - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
         |          / len($toks))
         |  END AS flesch
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          tokenCount(col("text")).cast("long").as("n_words"),
          size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
            .cast("long").as("n_syllables"),
          greatest(lit(1), size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))))
            .cast("long").as("n_sentences"))
        .selectExpr("doc_id", "n_words", "n_syllables", "n_sentences",
          """CASE WHEN n_words > 0 THEN
            |  206.835D - 1.015D * (CAST(n_words AS DOUBLE) / n_sentences)
            |    - 84.6D * (CAST(n_syllables AS DOUBLE) / n_words)
            |END AS flesch""".stripMargin)
        .orderBy("doc_id")
    },

    // C27 — vocabulary GROWTH curve (Heaps' law empirics): distinct
    // vocabulary vs cumulative corpus size at ten ingestion checkpoints
    // — the curve that says whether more data still buys new words
    // (flattening ⇒ the tokenizer/vocab budget is saturating; the
    // planning input behind C24's BPE training). Each token's FIRST
    // document is one partial agg over the (doc, distinct-token)
    // explode; checkpoints are INTEGER id-range cuts (lo−1+⌈span·k/10⌉ —
    // never a global ntile window over the corpus); every checkpoint
    // statistic is a ≤10× broadcast-join fan-out over id projections.
    // Exact integers end to end.
    QueryDef.sql("t_vocab_growth",
      s"""WITH dt AS (SELECT doc_id, unnest(list_distinct($toks)) AS tok FROM documents),
         |ft AS (SELECT tok, min(doc_id) AS first_doc FROM dt GROUP BY 1),
         |b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         |cp AS (SELECT k, lo - 1 + ((hi - lo + 1) * k) // 10 AS cut
         |       FROM b CROSS JOIN unnest(range(1, 11)) AS g(k)),
         |docs AS (SELECT k, cut, CAST(count(*) AS BIGINT) AS n_docs,
         |           CAST(sum(len($toks)) AS BIGINT) AS tokens_cum
         |         FROM cp JOIN documents ON doc_id <= cut GROUP BY 1, 2),
         |voc AS (SELECT k, CAST(count(*) AS BIGINT) AS vocab
         |        FROM cp JOIN ft ON first_doc <= cut GROUP BY 1)
         |SELECT CAST(docs.k AS BIGINT) AS decile, cut AS cut_doc, n_docs,
         |  tokens_cum, vocab
         |FROM docs JOIN voc ON docs.k = voc.k
         |ORDER BY decile""".stripMargin) { (s, d) =>
      // r16: first-owner and cumulative token totals both come from the
      // staged doc_tok_cnt grain — a token's first_doc is min(doc_id)
      // over its incidence rows, and tokens_cum is Σk over docs ≤ cut
      // (identical integers to sum(tokenCount) — zero-token docs
      // contribute 0 either way, hence the coalesce). Only the n_docs
      // count still touches documents, as an id-only column scan.
      val docs = Tables.documents(s, d)
      val dtc = graft.queries.StagedTables.docTokCnt(s, d)
      val ft = dtc.groupBy("tok").agg(min("doc_id").as("first_doc"))
      val b = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      val cp = broadcast(s.range(1, 11).select(col("id").as("k"))
        .crossJoin(broadcast(b))
        .selectExpr("k", "lo - 1 + ((hi - lo + 1) * k) DIV 10 AS cut"))
      val nd = docs.select("doc_id")
        .join(cp, col("doc_id") <= col("cut"))
        .groupBy("k", "cut")
        .agg(count(lit(1)).cast("long").as("n_docs"))
      val tc = dtc.select(col("doc_id"), col("k").as("kn"))
        .join(cp.select(col("k").as("k3"), col("cut").as("cut3")),
          col("doc_id") <= col("cut3"))
        .groupBy(col("k3"))
        .agg(sum("kn").cast("long").as("tokens_cum"))
      val dstats = nd.join(tc, col("k") === col("k3"), "left")
        .select(col("k"), col("cut"), col("n_docs"),
          coalesce(col("tokens_cum"), lit(0L)).as("tokens_cum"))
      val voc = ft.join(cp, col("first_doc") <= col("cut"))
        .groupBy(col("k").as("k2"))
        .agg(count(lit(1)).cast("long").as("vocab"))
      dstats.join(voc, col("k") === col("k2"))
        .selectExpr("CAST(k AS BIGINT) AS decile", "cut AS cut_doc", "n_docs",
          "tokens_cum", "vocab")
        .orderBy("decile")
    }
  )
}
