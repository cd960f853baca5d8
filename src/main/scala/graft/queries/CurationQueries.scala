package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Curation
import graft.sources.Tables

/** SURVEY §2 group H — corpus-curation selectors over `documents`. All
  * hash-deterministic (md5-derived, SURVEY §4 rule 6): the same rows fall
  * out on any engine, partitioning, or re-run — RNG sampling reproduces on
  * neither.
  */
object CurationQueries {

  val all: Seq[QueryDef] = Seq(

    // H1 — balanced per-source sample: 10 docs per source, chosen by
    // md5(doc_id) order. Rank-limit window ⇒ WindowGroupLimit (running
    // top-n per partition), never a whole stratum in memory.
    QueryDef.sql("q_stratified_sample",
      """SELECT source, doc_id, CAST(rn AS BIGINT) AS rn FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"), row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 10)
        .orderBy("source", "doc_id")
    },

    // H2 — weighted source mixing (pre-training data-mix step): src0 kept
    // whole, src1 at 50%, src2 at 25%, everything else at 10%. A narrow
    // hash filter — zero shuffle at any scale — and the kept set only
    // shrinks when a rate is lowered (reproducible mix ablations).
    QueryDef.sql("p_corpus_mix", {
      val u = Curation.uniformDuck("doc_id")
      s"""SELECT doc_id, source FROM documents
         |WHERE $u < (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
         |                        WHEN 'src2' THEN 0.25 ELSE 0.1 END)
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      Curation.weightedMix(Tables.documents(s, d), "source", "doc_id",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // H6 — weighted priority sampling (Ohlsson sequential Poisson): k
    // docs with the smallest priority u/w, giving inclusion probability
    // ∝ weight (here n_chars — longer docs sampled proportionally more,
    // the standard size-weighted corpus audit sample). Deterministic
    // where RNG reservoirs are not: u is the md5 fraction of the key and
    // u/w is ONE correctly-rounded IEEE division of identical operands,
    // so the priority ORDER is engine-identical (no transcendentals in
    // the ranking — SURVEY §4 rule 2). Top-k by priority compiles to
    // TakeOrderedAndProject: a narrow projection + single-reduce top-k,
    // zero shuffles at any scale.
    QueryDef.sql("q_weighted_sample", {
      val u = Curation.uniformDuck("doc_id")
      s"""SELECT doc_id, n_chars, $u / n_chars AS priority
         |FROM documents WHERE n_chars > 0
         |ORDER BY priority, doc_id LIMIT 20""".stripMargin
    }) { (s, d) =>
      val u = Curation.uniform(col("doc_id"))
      graft.operators.Relational.topKByAgg(
        Tables.documents(s, d).filter(col("n_chars") > 0)
          .select(col("doc_id"), col("n_chars"),
            (u / col("n_chars")).as("priority")),
        20, Seq(col("priority"), col("doc_id")))
    },

    // H4 — sequence packing: docs concatenated in md5 order within 8 hash
    // buckets, token stream chunked into 512-token training sequences;
    // output = where every doc landed (bucket, pack, offset). Token counts
    // are C1's oracle-proven tokenizer; ordering, bucketing, and chunk
    // arithmetic are all integer-deterministic.
    QueryDef.sql("p_pack_sequences", {
      val toks = graft.functions.TextFunctions.tokensDuck("text")
      s"""WITH t AS (
         |  SELECT doc_id, len($toks) AS n_tokens,
         |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 16, 4) AS BIGINT) % 8 AS BIGINT) AS bucket,
         |    md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
         |                                    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         |SELECT bucket, CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack,
         |       doc_id, CAST(cum - n_tokens AS BIGINT) AS tok_offset,
         |       CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM c ORDER BY bucket, tok_offset, doc_id""".stripMargin
    }) { (s, d) =>
      import graft.functions.TextFunctions
      Curation.packSequences(Tables.documents(s, d), "doc_id",
          TextFunctions.tokenCount(col("text")), budget = 512, nBuckets = 8)
        .orderBy("bucket", "tok_offset", "doc_id")
    },

    // H5 — THE end-to-end corpus-prep showcase: every stage of a
    // pre-training data pipeline composed into one verified plan —
    // clean (C5: quality ∧ lang ∧ exact-dedup) → MinHash near-dup removal
    // (D3) → benchmark decontamination (H3: docs with doc_id%97=0 play the
    // held-out suite; they and any trigram-overlapping doc leave the
    // training set) → weighted source mixing (H2) → sequence packing
    // (H4). Every fragment is hash-verified standalone; this proves the
    // COMPOSITION. Spark shape: the cleaning chain and the shingle sets
    // each materialize once (persist) and every later stage reuses them;
    // the benchmark gid set broadcasts; packing windows stay
    // hash-bucketed.
    QueryDef.sql("p_llm_prep_pack", {
      val u = Curation.uniformDuck("doc_id")
      s"""WITH kept AS (${TextQueries.keptSql}),
         |${DedupQueries.idsCte(3, "kept")},
         |${DedupQueries.minhashVerifyCte(0.5)},
         |surv AS (SELECT doc_id, source, n_tokens FROM kept
         |         WHERE doc_id NOT IN (SELECT b FROM nd)),
         |evg AS (SELECT DISTINCT gid FROM ids WHERE doc % 97 = 0),
         |contam AS (SELECT DISTINCT doc FROM ids
         |           WHERE doc % 97 <> 0 AND gid IN (SELECT gid FROM evg)),
         |train AS (SELECT * FROM surv WHERE doc_id % 97 <> 0
         |          AND doc_id NOT IN (SELECT doc FROM contam)),
         |mixed AS (SELECT * FROM train
         |          WHERE $u < (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
         |                                  WHEN 'src2' THEN 0.25 ELSE 0.1 END)),
         |pt AS (SELECT doc_id, n_tokens,
         |        CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 16, 4) AS BIGINT) % 8 AS BIGINT) AS bucket,
         |        md5(CAST(doc_id AS VARCHAR)) AS h
         |      FROM mixed),
         |pc AS (SELECT *, sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
         |                                     ROWS UNBOUNDED PRECEDING) AS cum FROM pt)
         |SELECT bucket, CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack,
         |       doc_id, CAST(cum - n_tokens AS BIGINT) AS tok_offset,
         |       CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM pc ORDER BY bucket, tok_offset, doc_id""".stripMargin
    }) { (s, d) =>
      import graft.operators.Dedup
      // clean chain, shingle sets, and near-dup losers are the staged
      // shared tables (StagedTables.corpusKept / llmDocSets / llmNd —
      // same builds p_llm_prep reads); this query composes the live
      // decon → mix → pack stages over those materialized artifacts
      val kept = StagedTables.corpusKept(s, d)
      val docSets = StagedTables.llmDocSets(s, d)
      val surv = kept.join(StagedTables.llmNd(s, d), Seq("doc_id"), "left_anti")
      val ids = Dedup.docIds(docSets)
      val evg = ids.filter(col("doc") % 97 === 0).select("gid").distinct()
      val contam = ids.filter(col("doc") % 97 =!= 0)
        .join(broadcast(evg), "gid")
        .select(col("doc").as("doc_id")).distinct()
      val train = surv.filter(col("doc_id") % 97 =!= 0)
        .join(contam, Seq("doc_id"), "left_anti")
      val mixed = Curation.weightedMix(train, "source", "doc_id",
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1)
      Curation.packSequences(mixed, "doc_id", col("n_tokens"), budget = 512, nBuckets = 8)
        .orderBy("bucket", "tok_offset", "doc_id")
    },

    // H3 — benchmark decontamination: training docs sharing any word
    // trigram with the held-out set (docs with doc_id % 97 = 0 play the
    // benchmark; real pipelines use 8-13-grams — the operator takes any n,
    // trigrams make the check exercisable on the synthetic corpus). The
    // benchmark side broadcasts — it is the fixed-size side at any corpus
    // scale.
    QueryDef.sql("d_decontaminate",
      s"""WITH ${DedupQueries.idsCte(3)},
         |ev AS (SELECT doc, gid FROM ids WHERE doc % 97 = 0),
         |tr AS (SELECT doc, gid FROM ids WHERE doc % 97 <> 0)
         |SELECT tr.doc AS doc,
         |  CAST(count(DISTINCT tr.gid) AS BIGINT) AS n_shared_grams,
         |  CAST(count(DISTINCT ev.doc) AS BIGINT) AS n_eval_docs
         |FROM tr JOIN ev ON tr.gid = ev.gid
         |GROUP BY 1 ORDER BY doc""".stripMargin) { (s, d) =>
      // r16: both sides come from the staged raw_docsets3 doc-set table
      // (filter commutes with the per-row shingle projection), so the
      // corpus is tokenized once per JVM, not once per consumer.
      val sets = graft.queries.StagedTables.rawDocSets3(s, d)
      Curation.decontaminateSets(
          sets.filter(col("doc") % 97 =!= 0),
          sets.filter(col("doc") % 97 === 0))
        .orderBy("doc")
    },

    // H7 — source-interleaved training order: round-robin across sources
    // in per-source md5 order (the shuffling guarantee a multi-source
    // pre-training run wants: no long single-source stretches). The
    // ORACLE materializes the global position with a row_number window;
    // the SPARK side computes the IDENTICAL position by closed form —
    // position = Σ_s min(cnt_s, rn−1) + #{s < source : cnt_s ≥ rn} + 1 —
    // from a 20-row broadcast of per-source counts: a per-source rank
    // window (hash-distributed) plus a broadcast fan-out/re-agg, NO
    // global sort or single-partition window anywhere. Two engines, two
    // mechanisms, one hash — the cross-paradigm check is the point.
    QueryDef.sql("p_interleave",
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT CAST(row_number() OVER (ORDER BY rn, source) AS BIGINT) AS position,
        |  doc_id, source, CAST(rn AS BIGINT) AS rn
        |FROM r ORDER BY position""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = StagedTables.docsWide(s, d)
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val r = docs.select(col("doc_id"), col("source"),
        row_number().over(w).cast("long").as("rn"))
      val cnt = docs.groupBy(col("source").as("src2"))
        .agg(count(lit(1)).as("cnt2"))
      r.crossJoin(broadcast(cnt))
        .groupBy("doc_id", "source", "rn")
        .agg((sum(least(col("cnt2"), col("rn") - 1)) +
          sum(when(col("cnt2") >= col("rn") && col("src2") < col("source"), 1L)
            .otherwise(0L)) + 1L).as("position"))
        .select(col("position"), col("doc_id"), col("source"), col("rn"))
        .orderBy("position")
    },

    // H8 — reproducible token-budget selection: the docs filling the
    // first 20 000 tokens of the corpus in md5 order ("give me exactly a
    // N-token reproducible subset" — the budget knob every scaling-law /
    // ablation run turns). Token counts are C1's oracle-proven
    // tokenizer; the cumulative sum runs over md5-ordered docs. The
    // global cumulative window is the exactness path at this scale; at
    // 100 TB the cut comes from per-hash-prefix token totals (prefix
    // sums over a 4096-row dim) with the exact window only inside the
    // single cut bin — the same histogram-cut ladder as B14x.
    QueryDef.sql("p_token_budget", {
      import graft.functions.TextFunctions
      val toksSql = TextFunctions.tokensDuck("text")
      s"""WITH t AS (SELECT doc_id, source,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY h, doc_id) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.TextFunctions
      val t = StagedTables.docsWide(s, d)
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          md5(col("doc_id").cast("string")).as("h"))
      val w = Window.orderBy(col("h"), col("doc_id"))
      t.select(col("doc_id"), col("source"), col("n_tokens"),
          sum("n_tokens").over(w).cast("long").as("cum_tokens"))
        .filter(col("cum_tokens") <= 20000)
        .orderBy("doc_id")
    },

    // H9 — temperature-scaled source mixture (the multilingual/multi-
    // source data-recipe staple: sampling weight ∝ n^α with α<1 upweights
    // small sources without swamping large ones; α=0.7 is the standard
    // multilingual setting). Report per source: natural share, the
    // α-tempered share, the upsample factor H2's rate map would encode,
    // and the planned doc count at corpus size. One source-keyed partial
    // agg (report-sized from there). n^0.7 runs as the PORTABLE pow —
    // exp2(0.7·log2 n) from PortableMath, identical op sequence both
    // engines (libm pow reaches the output VALUES here, so a host pow
    // change would red the gate exactly like the round-10 ln incident),
    // and the normalizer z is a source-pinned fold (the old
    // DECIMAL(28,12) re-entry leaned on DuckDB's not-correctly-rounded
    // double→DECIMAL cast).
    QueryDef.sql("p_mix_temperature", {
      import graft.functions.PortableMath
      s"""WITH g AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY 1),
        |w0 AS (SELECT source, n_docs, n_chars,
        |    (0.7 * ${PortableMath.log2Sql("CAST(n_docs AS DOUBLE)")}) AS e FROM g),
        |w1 AS (SELECT source, n_docs, n_chars, ${PortableMath.exp2Sql("e")} AS w FROM w0),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
        |    list_reduce(list(w ORDER BY source), (x, y) -> x + y) AS z
        |  FROM w1)
        |SELECT source, n_docs, n_chars,
        |  CAST(n_docs AS DOUBLE)/total AS natural_share,
        |  w/z AS temp_share,
        |  (w/z) / (CAST(n_docs AS DOUBLE)/total) AS upsample_factor,
        |  CAST(round(total * w/z) AS BIGINT) AS planned_docs
        |FROM w1 CROSS JOIN t ORDER BY source""".stripMargin
    }) { (s, d) =>
      import graft.functions.PortableMath
      val g = Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("n_chars"))
      val w = g
        .withColumn("e", lit(0.7) * PortableMath.pLog2(col("n_docs").cast("double")))
        .withColumn("w", expr(PortableMath.exp2SparkSql("e")))
      val t = w.agg(sum("n_docs").cast("long").as("total"),
        expr("aggregate(array_sort(collect_list(named_struct('source', source, 'v', w))), " +
          "CAST(0 AS DOUBLE), (x, y) -> x + y.v)").as("z"))
      w.crossJoin(broadcast(t))
        .selectExpr("source", "n_docs", "n_chars",
          "CAST(n_docs AS DOUBLE)/total AS natural_share",
          "w/z AS temp_share",
          "(w/z) / (CAST(n_docs AS DOUBLE)/total) AS upsample_factor",
          "CAST(round(total * w/z) AS BIGINT) AS planned_docs")
        .orderBy("source")
    },

    // H10 — filter ATTRITION waterfall: docs and tokens surviving each
    // successive p_corpus_clean gate (all → quality ≥ 0.4 → lang = en →
    // exact-dedup keep-first) — the curation diagnostic every pipeline
    // run ships next to its output ("where did the corpus go?"), and the
    // first place a mis-tuned threshold shows up. Stages 0-2 are
    // conditional sums inside ONE scored-corpus aggregate; stage 3 rides
    // the same kept-first machinery the pipelines use. Shares
    // TextQueries' scored corpus (the one tokenize pass) on both sides.
    QueryDef.sql("p_filter_waterfall",
      s"""WITH sc AS (${TextQueries.scoredSql}),
         |k AS (SELECT n_tokens, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |      FROM sc WHERE quality >= 0.4 AND pred_lang = 'en')
         |SELECT 'all' AS stage, CAST(0 AS BIGINT) AS stage_idx,
         |  count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS tokens FROM sc
         |UNION ALL SELECT 'quality', CAST(1 AS BIGINT), count(*), CAST(sum(n_tokens) AS BIGINT)
         |  FROM sc WHERE quality >= 0.4
         |UNION ALL SELECT 'lang_en', CAST(2 AS BIGINT), count(*), CAST(sum(n_tokens) AS BIGINT)
         |  FROM sc WHERE quality >= 0.4 AND pred_lang = 'en'
         |UNION ALL SELECT 'exact_dedup', CAST(3 AS BIGINT), count(*), CAST(sum(n_tokens) AS BIGINT)
         |  FROM k WHERE rn = 1
         |ORDER BY stage_idx""".stripMargin) { (s, d) =>
      import graft.operators.Relational
      // the tokenize/score pass is the staged corpus_scored table —
      // built once, shared with the corpus_kept build chain
      val sc = StagedTables.corpusScored(s, d)
      val q = col("quality") >= 0.4
      val en = col("pred_lang") === "en"
      val base = sc.agg(
        count(lit(1)).as("d0"), sum("n_tokens").as("t0"),
        count(when(q, 1)).as("d1"), sum(when(q, col("n_tokens"))).as("t1"),
        count(when(q && en, 1)).as("d2"), sum(when(q && en, col("n_tokens"))).as("t2"))
      val dedup = Relational.dedupKeepFirst(
          sc.filter(q && en).withColumn("__h", md5(col("text"))),
          Seq("__h"), Seq(col("doc_id")))
        .agg(count(lit(1)).as("d3"), sum("n_tokens").as("t3"))
      base.crossJoin(dedup)
        .select(expr("stack(4, " +
          "'all', CAST(0 AS BIGINT), d0, t0, " +
          "'quality', CAST(1 AS BIGINT), d1, t1, " +
          "'lang_en', CAST(2 AS BIGINT), d2, t2, " +
          "'exact_dedup', CAST(3 AS BIGINT), d3, t3) AS (stage, stage_idx, docs, tokens)"))
        .orderBy("stage_idx")
    },

    // H11 — deterministic per-epoch shuffle: a training run needs a
    // DIFFERENT document order each epoch, reproducible across reruns
    // and engines — so the order is md5(epoch:doc_id), never an RNG
    // (H6's selector discipline applied to ORDERING). The oracled row is
    // the bounded head (first 20 positions per epoch) — Spark 4 compiles
    // the rank-limit window to WindowGroupLimit, a running top-n per
    // partition that prunes before the shuffle; the FULL permutation at
    // 100 TB assigns positions by A1's range-partition surrogate-rank
    // trick over the same hash key (sort keys, not data, move).
    QueryDef.sql("p_epoch_shuffle",
      """WITH f AS (
        |  SELECT g.k AS epoch, doc_id,
        |    md5(CAST(g.k AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents CROSS JOIN unnest(range(0, 3)) AS g(k)),
        |r AS (SELECT epoch, doc_id,
        |        row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS pos
        |      FROM f)
        |SELECT CAST(epoch AS BIGINT) AS epoch, CAST(pos AS BIGINT) AS pos, doc_id
        |FROM r WHERE pos <= 20 ORDER BY epoch, pos""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val epochs = s.range(0, 3).select(col("id").as("epoch"))
      val f = Tables.documents(s, d).select("doc_id")
        .crossJoin(broadcast(epochs))
        .select(col("epoch"), col("doc_id"),
          md5(concat(col("epoch").cast("string"), lit(":"),
            col("doc_id").cast("string"))).as("h"))
      f.withColumn("pos",
          row_number().over(Window.partitionBy("epoch").orderBy("h", "doc_id")))
        .filter(col("pos") <= 20)
        .select(col("epoch"), col("pos").cast("long").as("pos"), col("doc_id"))
        .orderBy("epoch", "pos")
    },

    // H12 — corpus length profile per source: document-length bucket
    // mix (short / medium / long / very-long) with within-source shares
    // — the first chart on any corpus datasheet, and the input to H8's
    // token budgeting (a source that is all snippets needs different
    // packing than one that is all books). ONE conditional partial agg
    // over the stored n_chars column (the text itself is never
    // scanned); bucket boundaries are exact integer compares; share is
    // one double division per (source, bucket) row.
    QueryDef.sql("p_length_profile",
      """WITH g AS (
        |  SELECT source,
        |    CASE WHEN n_chars < 500 THEN 0 WHEN n_chars < 1000 THEN 1
        |         WHEN n_chars < 2000 THEN 2 ELSE 3 END AS bucket,
        |    CAST(count(*) AS BIGINT) AS docs
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(docs) AS BIGINT) AS total FROM g GROUP BY 1)
        |SELECT g.source, CAST(bucket AS BIGINT) AS bucket, docs,
        |  CAST(docs AS DOUBLE) / total AS share
        |FROM g JOIN t ON g.source = t.source
        |ORDER BY g.source, bucket""".stripMargin) { (s, d) =>
      val g = Tables.documents(s, d)
        .groupBy(col("source"),
          when(col("n_chars") < 500, 0).when(col("n_chars") < 1000, 1)
            .when(col("n_chars") < 2000, 2).otherwise(3).as("bucket"))
        .agg(count(lit(1)).cast("long").as("docs"))
      val t = g.groupBy("source").agg(sum("docs").cast("long").as("total"))
      g.join(broadcast(t), "source")
        .select(col("source"), col("bucket").cast("long").as("bucket"), col("docs"),
          (col("docs").cast("double") / col("total")).as("share"))
        .orderBy("source", "bucket")
    }
  )
}
