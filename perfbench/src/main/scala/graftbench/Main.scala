package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, Watchdog}
import graft.pipeline.{FoodPipeline, Orchestrator}
import graft.queries.StagedTables
import graft.sources.{SnapshotTable, Tables}

/** One benchmark run of one workload: a closed loop with one client
  * thread that runs one op at a time.
  *
  * Phases, in order:
  *  1. set-up (`setup_s`, from process start): the session and one
  *     warm-up run of every op on the 10x smaller sibling inputs (JIT).
  *     It runs once: a repeat in the same process would find the caches
  *     the first one filled, and hide work moved into set-up;
  *  2. the first timed pass at full scale (`first_pass_s`), which pays for
  *     per-process state built lazily on first use: staged tables, trained
  *     models, stream event staging;
  *  3. later passes until `seconds` have been measured. In a traced run
  *     the later passes run with and without the listeners, so the
  *     tracing overhead is measured on the same process;
  *  4. verification: every query op runs once more, and the outputs of
  *     those with a DuckDB oracle are dumped for the oracle check; the
  *     write ops' expected results come from plain DataFrame ops. Every
  *     timed output must carry the fingerprint of the verified one.
  *
  * Ops are registered query names plus the write ops: `pipeline` (one
  * FoodPipeline DAG into a fresh dir) and the steps of one SnapshotTable
  * cycle over `orders` in a fresh dir per pass, in this order:
  * `snapshot.create`, `.merge`, `.delete`, `.compact`, `.read` (latest),
  * `.read_v0` and `.vacuum`.
  *
  * Usage: Main key=value... with keys workload, ops (comma separated),
  * full, warm, seconds, trace (0|1), seed, out and cpus.
  * Writes `result.json` (and `trace.json` when traced) to `out`. */
object Main {

  final case class Config(workload: String, ops: Seq[String], fullDir: String,
                          warmDir: String, seconds: Double, trace: Boolean,
                          seed: Long, outDir: String, cpus: Int)

  /** One timed op execution. `check` is what verification compares:
    * the output fingerprint (row count only for ops without an oracle). */
  final case class Sample(pass: Int, op: String, seconds: Double,
                          check: Option[String], error: Option[String])

  /** Catalyst figures of one traced query op. */
  final case class PlanInfo(analysisMs: Long, optimizerMs: Long,
                            planningMs: Long, exchanges: Int)

  private val CapSec = 60
  /** The snapshot cycle's steps, in the order they run; the commit
    * steps' index is the version they land. */
  private val SnapshotSteps = Seq("snapshot.create", "snapshot.merge", "snapshot.delete",
    "snapshot.compact", "snapshot.read", "snapshot.read_v0", "snapshot.vacuum")
  /** Later passes per run, at least: pass_s is their median. A traced
    * run makes at least four — traced, untraced, untraced, traced — so a
    * drift along the run weighs on both sides of the tracing overhead. */
  private val MinLaterPasses = 2
  private val MinLaterPassesTraced = 4

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cfg = Config(kv("workload"), kv("ops").split(',').toSeq.filter(_.nonEmpty),
      kv("full"), kv("warm"), kv("seconds").toDouble, kv("trace") == "1",
      kv("seed").toLong, kv("out"), kv("cpus").toInt)
    val code = try { new Run(cfg).run(); 0 }
    catch { case t: Throwable => t.printStackTrace(); 1 }
    // skip Spark's shutdown hooks: the session is already stopped
    Runtime.getRuntime.halt(code)
  }

  /** Jobs, stages and tasks seen while one op ran, rolled up. */
  final case class Work(jobs: Int, stages: Int, tasks: Int, failedTasks: Int,
                        taskS: Double, cpuS: Double, waitS: Double,
                        inputB: Long, shuffleWriteB: Long, shuffleReadB: Long,
                        spillB: Long, outputB: Long, skew: Double)

  /** Roll up `jobs`: their stages and tasks, and the job time during
    * which none of the job's tasks ran (`waitS`). A stage belongs to the
    * first job that lists it; later jobs that list it skip it. */
  def work(jobs: Seq[JobRec], ends: Map[Int, JobEnd], stageJob: Map[Int, Int],
           stages: Seq[Int], tasksByStage: Map[Int, Seq[TaskRec]]): Work = {
    val ids = jobs.map(_.id).toSet
    val mine = stageJob.collect { case (s, j) if ids(j) => s }.toSet
    val ts = mine.toSeq.flatMap(s => tasksByStage.getOrElse(s, Nil))
    val wait = jobs.map { j =>
      val end = ends.get(j.id).map(_.endMs).getOrElse(j.startMs)
      val spans = j.stageIds.filter(stageJob.get(_).contains(j.id))
        .flatMap(s => tasksByStage.getOrElse(s, Nil))
        .map(t => (math.max(t.launchMs, j.startMs), math.min(t.finishMs, end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = j.startMs
      spans.foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
      (end - j.startMs - covered) / 1e3
    }.sum
    val skew = mine.toSeq.flatMap { s =>
      val d = tasksByStage.getOrElse(s, Nil).filter(_.ok).map(t => math.max(1.0, t.seconds * 1e3))
      if (d.size < 2) None else Some(d.max / Stats.median(d))
    }.maxOption.getOrElse(1.0)
    Work(jobs.size, stages.count(mine), ts.size, ts.count(!_.ok),
      ts.map(_.seconds).sum, ts.map(_.cpuNs).sum / 1e9, wait,
      ts.map(_.inputBytes).sum, ts.map(_.shuffleWriteBytes).sum,
      ts.map(_.shuffleReadBytes).sum, ts.map(_.spillBytes).sum,
      ts.map(_.outputBytes).sum, skew)
  }

  /** Exchange nodes in an executed plan, looking through adaptive
    * wrappers and query stages into the final adaptive plan. */
  def exchanges(p: SparkPlan): Int = {
    val own = p match { case _: Exchange => 1; case _ => 0 }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children
    }
    own + (inner ++ p.subqueries).map(exchanges).sum
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.isFile) f.length() else 0L

  private def parquetFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(parquetFiles).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0

  private final class Run(cfg: Config) {
    private val wl = cfg.workload
    private val registry = SparkEntry.queries
    private val oracle = SparkEntry.oracleSql
    private val spans = new Spans
    private val samples = mutable.ArrayBuffer.empty[Sample]
    private val plans = mutable.Map.empty[String, PlanInfo]
    private val pipelineAttempts = mutable.Map.empty[String, Int]
    // pass label of a snapshot cycle -> (bytes of its latest version, files landed)
    private val snapshotFiles = mutable.Map.empty[String, (Long, Int)]
    private val pipelineFiles = mutable.Map.empty[String, Int]
    @volatile private var tracing = false
    private var spark: SparkSession = _

    cfg.ops.foreach(op => require(op == "pipeline" || SnapshotSteps.contains(op) ||
      registry.contains(op), s"unknown op '$op'"))

    private def out(rel: String): String = s"${cfg.outDir}/$rel"

    /** One op, capped; returns its check value (when `check`) and its
      * latency. An op returns its check unevaluated, so that reading back
      * what a write op wrote is not timed. */
    private def runOp(op: String, dir: String, label: String,
                      check: Boolean): (Either[String, String], Double) = {
      val trace = s"$wl/$label/$op"
      val r = spans("op", trace) {
        Watchdog.runCapped(spark, op, CapSec) {
          op match {
            case "pipeline" => pipeline(dir, trace)
            case s if SnapshotSteps.contains(s) => snapshotStep(s, dir, label, trace)
            case q => val v = query(q, dir, trace); () => v
          }
        }
      }
      val secs = spans.last.seconds
      val checked = r.flatMap(c =>
        if (check) Watchdog.runCapped(spark, s"check-$op", CapSec)(c()) else Right(""))
      spark.catalog.clearCache()
      (checked, secs)
    }

    private def query(q: String, dir: String, trace: String): String = {
      val df = spans("queries.build", trace)(registry(q)(spark, dir))
      val fpf = spans("catalyst.plan", trace) {
        val f = Fingerprint.frame(df)
        f.queryExecution.executedPlan
        f
      }
      val fp = spans("exec.action", trace)(Fingerprint.collect(fpf))
      if (tracing) {
        def phase(qe: org.apache.spark.sql.execution.QueryExecution, p: String) =
          qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)
        val (a, b) = (df.queryExecution, fpf.queryExecution)
        plans(trace) = PlanInfo(phase(a, "analysis") + phase(b, "analysis"),
          phase(b, "optimization"), phase(b, "planning"), exchanges(b.executedPlan))
      }
      if (oracle.contains(q)) fp.toString else s"rows=${fp.rows}"
    }

    private def pipeline(dir: String, trace: String): () => String = {
      val dest = out(s"writes/${trace.replace('/', '_')}")
      val st = spans("pipeline.run", trace)(FoodPipeline.run(spark, dir, dest))
      () => {
        pipelineAttempts(trace) = st.values.map(_.attempts).sum
        val bad = st.filterNot(_._2.isInstanceOf[Orchestrator.Succeeded])
        require(bad.isEmpty, s"pipeline tasks did not succeed: $bad")
        pipelineFiles(trace) = parquetFiles(new File(dest))
        require(new File(s"$dest/images/schedule_per_business.svg").isFile,
          "pipeline wrote no chart")
        // read back every table the load step exported
        Option(new File(dest).listFiles()).toSeq.flatten.filter(parquetFiles(_) > 0)
          .map(_.getName).sorted
          .map(t => s"$t=${Fingerprint.of(spark.read.parquet(s"$dest/$t"))}").mkString(";")
      }
    }

    private def pipelineExpected(dir: String): String =
      FoodPipeline.build(spark, dir).toSeq.sortBy(_._1)
        .map { case (t, df) => s"$t=${Fingerprint.of(df)}" }.mkString(";")

    /** The seeded delta: about 5% of orders updated, 2% inserted under new
      * keys, then about 10% of the merged table deleted. */
    private def delta(orders: DataFrame): (DataFrame, org.apache.spark.sql.Column) = {
      def bucket(salt: Long, n: Int) = pmod(xxhash64(col("o_orderkey"), lit(cfg.seed + salt)), lit(n))
      val price = orders.schema("o_totalprice").dataType
      val updates = orders.filter(bucket(1, 20) === 0)
        .withColumn("o_totalprice", (col("o_totalprice") + lit(1)).cast(price))
      val inserts = orders.filter(bucket(2, 50) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(1L << 40)) // above every generated key
      (updates.unionByName(inserts), bucket(3, 10) === 0)
    }

    /** One step of the pass's snapshot cycle. The commit steps are
      * checked on the version they land; the two reads check the table's
      * content, so they verify every write of the cycle. */
    private def snapshotStep(step: String, dir: String, label: String,
                             trace: String): () => String = {
      val table = out(s"writes/${wl}_${label}_snapshot")
      val key = "o_orderkey"
      val orders = Tables.orders(spark, dir)
      val cols = orders.columns.map(col).toSeq
      def landed = () => s"v=${SnapshotTable.latestVersion(table)}"
      spans(step, trace) {
        step match {
          case "snapshot.create" => SnapshotTable.create(spark, table, orders, key); landed
          case "snapshot.merge" => SnapshotTable.merge(spark, table, delta(orders)._1, key); landed
          case "snapshot.delete" => SnapshotTable.delete(spark, table, delta(orders)._2, key); landed
          case "snapshot.compact" => SnapshotTable.compact(spark, table, key); landed
          case "snapshot.read" =>
            val fp = Fingerprint.of(SnapshotTable.read(spark, table).select(cols: _*)).toString
            () => fp
          case "snapshot.read_v0" =>
            val fp = Fingerprint.of(SnapshotTable.read(spark, table, 0).select(cols: _*)).toString
            () => fp
          case "snapshot.vacuum" =>
            val expired = SnapshotTable.vacuum(spark, table)
            () => {
              val v = SnapshotTable.latestVersion(table)
              val latestBytes = SnapshotTable.cachedFiles(spark, table, v)
                .map(n => new File(s"$table/data/$n").length()).sum
              snapshotFiles(label) = (latestBytes, parquetFiles(new File(s"$table/data")) + expired.size)
              s"v=$v"
            }
        }
      }
    }

    /** What each snapshot step should leave: the version it commits, or
      * for the reads the content, computed with plain DataFrame ops. */
    private def snapshotExpected(step: String, dir: String): String = {
      val orders = Tables.orders(spark, dir)
      val (upserts, gone) = delta(orders)
      step match {
        case "snapshot.read" =>
          val merged = orders.join(upserts.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
            .select(orders.columns.map(col).toSeq: _*).unionByName(upserts)
          Fingerprint.of(merged.filter(!gone)).toString
        case "snapshot.read_v0" => Fingerprint.of(orders).toString
        case "snapshot.vacuum" => "v=3"
        case commit => s"v=${SnapshotSteps.indexOf(commit)}"
      }
    }

    /** Runs every op once; returns the pass time, the sum of the op
      * latencies (the untimed checks between ops are left out). */
    private def pass(n: Int, dir: String, label: String): Double =
      cfg.ops.map { op =>
        val (r, secs) = runOp(op, dir, label, check = n > 0)
        if (n > 0) samples += Sample(n, op, secs, r.toOption, r.left.toOption)
        r.left.foreach(e => System.err.println(s"[perfbench] $wl/$label/$op failed: $e"))
        secs
      }.sum

    def run(): Unit = {
      new File(cfg.outDir).mkdirs()
      val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

      // 1. set-up
      val t0 = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
      System.setProperty("spark.sql.warehouse.dir", out("warehouse"))
      val (sessionS, warmupS) = spans("setup", s"$wl/setup") {
        spark = spans("session.create", s"$wl/setup")(GraftSession.local("graft-perfbench", cfg.cpus))
        val sessionS = spans.last.seconds
        spans("setup.warmup", s"$wl/setup")(pass(0, cfg.warmDir, "setup"))
        (sessionS, spans.last.seconds)
      }
      val setupS = (System.nanoTime() - t0) / 1e9
      // Staged tables build lazily on first use: the warm-up built the
      // sibling's, the first timed pass builds the full-scale ones.
      def stagedDirs = Option(new File(System.getProperty("java.io.tmpdir")).listFiles())
        .toSeq.flatten.filter(_.getName.startsWith("graft_")).toSet
      val dirsBefore = stagedDirs
      val logBefore = StagedTables.buildLog.asScala.toMap

      // 2-3. timed passes
      val sc = spark.sparkContext
      val jobsRec = new JobRecorder
      val streamRec = new StreamRecorder
      val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
      def gcMs = gcBeans.map(_.getCollectionTime).sum
      var gcTraced = 0L
      @volatile var heapPeak = 0L
      val sampler = new Thread(() => {
        val mem = ManagementFactory.getMemoryMXBean
        while (true) {
          if (tracing) heapPeak = math.max(heapPeak, mem.getHeapMemoryUsage.getUsed)
          Thread.sleep(50)
        }
      }, "perfbench-heap-sampler")
      sampler.setDaemon(true)
      sampler.start()
      def timedPass(n: Int, traced: Boolean): Double = {
        System.gc()
        if (traced) {
          sc.addSparkListener(jobsRec)
          spark.streams.addListener(streamRec)
          tracing = true
        }
        val g0 = gcMs
        val secs = pass(n, cfg.fullDir, s"p$n")
        if (traced) {
          gcTraced += gcMs - g0
          jobsRec.drain()
          tracing = false
          spark.streams.removeListener(streamRec)
          sc.removeSparkListener(jobsRec)
        }
        secs
      }
      val m0 = System.nanoTime()
      val firstPass = timedPass(1, cfg.trace)
      val staged = StagedTables.buildLog.asScala.toMap.filter { case (t, v) => !logBefore.get(t).contains(v) }
      val stagedMb = (stagedDirs -- dirsBefore).toSeq.map(dirBytes).sum / 1e6
      val later = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
      val minLater = if (cfg.trace) MinLaterPassesTraced else MinLaterPasses
      while ((System.nanoTime() - m0) / 1e9 < cfg.seconds || later.size < minLater) {
        val n = later.size + 2
        val traced = cfg.trace && later.size % 4 != 1 && later.size % 4 != 2
        later += ((n, traced, timedPass(n, traced)))
      }

      // 4. verification
      val dump = out("dump")
      new File(dump).mkdirs()
      val dumped = mutable.ArrayBuffer.empty[String]
      val expected = cfg.ops.map { op =>
        val r = Watchdog.runCapped(spark, s"verify-$op", CapSec) {
          op match {
            case "pipeline" => pipelineExpected(cfg.fullDir)
            case s if SnapshotSteps.contains(s) => snapshotExpected(s, cfg.fullDir)
            case q if oracle.contains(q) =>
              registry(q)(spark, cfg.fullDir).coalesce(1).write.parquet(s"$dump/$q")
              dumped += q
              Fingerprint.of(spark.read.parquet(s"$dump/$q")).toString
            case q => s"rows=${Fingerprint.of(registry(q)(spark, cfg.fullDir)).rows}"
          }
        }
        spark.catalog.clearCache()
        op -> r
      }.toMap
      Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
        Json(dumped.map(q => q -> oracle(q)).toMap))
      spark.stop()

      // results
      val ok = samples.filter(_.error.isEmpty)
      def matches(s: Sample) = expected(s.op) match {
        case Right(e) => s.check.contains(e)
        case Left(_) => false // no verified output to compare with
      }
      val wrong = ok.filterNot(matches)
      val untracedLater = later.filterNot(_._2)
      val steady = ok.filter(s => untracedLater.exists(_._1 == s.pass))
      val steadyByOp = steady.groupMap(_.op)(_.seconds).view.mapValues(xs => Stats.median(xs.toSeq)).toMap
      val firstByOp = ok.filter(_.pass == 1).map(s => s.op -> s.seconds).toMap
      val e2e = Map(
        "setup_s" -> setupS,
        "first_pass_s" -> firstPass,
        "pass_s" -> Stats.median(untracedLater.map(_._3).toSeq),
        "op_p50_s" -> Stats.median(steady.map(_.seconds).toSeq),
        "op_geomean_s" -> Stats.geomean(steadyByOp.values.toSeq))
      val touched = cfg.ops.filter(op => firstByOp.contains(op) && steadyByOp.contains(op))
      val firstTouch = touched.map(op => Map("op" -> op, "first_s" -> firstByOp(op), "steady_s" -> steadyByOp(op),
          "ratio" -> firstByOp(op) / steadyByOp(op)))
      val result = mutable.Map[String, Any](
        "workload" -> wl,
        "e2e" -> e2e,
        "failed_ops" -> samples.filter(_.error.nonEmpty).map(s => s"${s.op}@p${s.pass}: ${s.error.get}"),
        "wrong_ops" -> wrong.map(s => s"${s.op}@p${s.pass}").toSeq,
        "verify_errors" -> expected.collect { case (op, Left(e)) => op -> e },
        "samples" -> samples.map(s => Map("op" -> s.op, "pass" -> s.pass,
          "seconds" -> s.seconds, "error" -> s.error, "match" -> matches(s))),
        "oracle_ops" -> dumped.toSeq,
        "op_latency_samples" -> steady.size,
        "passes" -> later.map { case (n, t, s) => Map("pass" -> n, "traced" -> t, "s" -> s) },
        "first_touch" -> firstTouch)

      if (cfg.trace) {
        val allSpans = spans.all
        val tracedPasses = later.filter(_._2).map(_._1).toSet
        val nT = tracedPasses.size.toDouble
        def passOf(s: Span): Int = s.trace.split('/')(1) match {
          case p if p.startsWith("p") => p.drop(1).toInt
          case _ => 0
        }
        val tSpans = allSpans.filter(s => tracedPasses(passOf(s)))
        jobsRec.drain()
        val jobs = jobsRec.jobs.asScala.toSeq
        val ends = jobsRec.jobEnds.asScala.map(e => e.id -> e).toMap
        val stageJob = jobs.sortBy(_.id).reverse.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
        val stages = jobsRec.stages.asScala.toSeq
        val tasksByStage = jobsRec.tasks.asScala.toSeq.groupBy(_.stageId)
        val byName = tSpans.groupBy(_.name)
        def secs(names: String*) = names.flatMap(byName.getOrElse(_, Nil)).map(_.seconds).sum
        // jobs placed in their innermost span, over every traced span
        val jobSpan = Attribution.assign(allSpans, jobs)(_.startMs)
        val spanById = allSpans.map(s => s.id -> s).toMap
        def jobsIn(pred: Span => Boolean) =
          jobSpan.toSeq.filter { case (id, _) => pred(spanById(id)) }.flatMap(_._2)
        def workIn(pred: Span => Boolean) =
          work(jobsIn(pred), ends, stageJob, stages, tasksByStage)
        def traced(s: Span) = tracedPasses(passOf(s))
        val all = workIn(traced)
        val actionNames = Set("exec.action", "pipeline.run") ++ SnapshotSteps
        val action = workIn(s => traced(s) && actionNames(s.name))
        val actionS = secs(actionNames.toSeq: _*)
        val build = workIn(s => traced(s) && s.name == "queries.build")
        val tPlans = plans.filter { case (t, _) => tracedPasses(t.split('/')(1).drop(1).toInt) }.values
        val snap = SnapshotSteps.map(k => k -> byName.getOrElse(k, Nil).map(_.seconds)).toMap
        val cycles = tSpans.filter(_.name == "snapshot.vacuum").map(_.trace.split('/')(1))
        val commitWork = workIn(s => traced(s) &&
          Set("snapshot.create", "snapshot.merge", "snapshot.delete", "snapshot.compact")(s.name))
        val snapWork = workIn(s => traced(s) && s.name.startsWith("snapshot."))
        val latestBytes = cycles.flatMap(snapshotFiles.get).map(_._1).sum
        val pipes = tSpans.filter(_.name == "pipeline.run")
        val streamOps = tSpans.filter(s => s.name == "op" && s.trace.split('/').last.startsWith("f_stream_"))
        val progress = Attribution.assign(allSpans, streamRec.progress.asScala)(_.timeMs)
        val streamProgress = streamOps.flatMap(s =>
          Attribution.subtree(allSpans, s).toSeq.flatMap(progress.getOrElse(_, Nil)))
        val streamS = streamOps.map(_.seconds).sum
        val streamStateRows = streamOps.map { s =>
          Attribution.subtree(allSpans, s).toSeq.flatMap(progress.getOrElse(_, Nil))
            .map(_.stateRows).maxOption.getOrElse(0L)
        }.sum
        val tracedWalls = later.filter(_._2).map(_._3).toSeq
        val plainWalls = later.filterNot(_._2).map(_._3).toSeq
        def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
        def rssPeakMb: Double = try {
          Files.readAllLines(Paths.get("/proc/self/status")).asScala
            .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
        } catch { case _: Throwable => 0.0 }
        val mb = 1e6
        val layer = Map[String, Double](
          "session.create_s" -> sessionS,
          "setup.warmup_s" -> warmupS,
          "staging.build_s" -> staged.values.sum,
          "staging.tables" -> staged.size.toDouble,
          "staging.mb" -> stagedMb,
          "queries.build_s" -> secs("queries.build") / nT,
          "queries.build_jobs" -> build.jobs / nT,
          "queries.first_over_steady" -> touched.map(firstByOp).sum / touched.map(steadyByOp).sum,
          "catalyst.plan_s" -> secs("catalyst.plan") / nT,
          "catalyst.analysis_s" -> tPlans.map(_.analysisMs).sum / 1e3 / nT,
          "catalyst.optimizer_s" -> tPlans.map(_.optimizerMs).sum / 1e3 / nT,
          "catalyst.planning_s" -> tPlans.map(_.planningMs).sum / 1e3 / nT,
          "catalyst.exchanges" -> tPlans.map(_.exchanges).sum / nT,
          "sched.jobs" -> all.jobs / nT,
          "sched.stages" -> all.stages / nT,
          "sched.tasks" -> all.tasks / nT,
          "sched.wait_s" -> all.waitS / nT,
          "exec.action_s" -> actionS / nT,
          "exec.task_s" -> all.taskS / nT,
          "exec.cpu_s" -> all.cpuS / nT,
          "exec.busy_frac" -> (if (actionS > 0) action.taskS / (actionS * cfg.cpus) else 0.0),
          "exec.input_mb" -> all.inputB / mb / nT,
          "exec.shuffle_write_mb" -> all.shuffleWriteB / mb / nT,
          "exec.shuffle_read_mb" -> all.shuffleReadB / mb / nT,
          "exec.spill_mb" -> all.spillB / mb / nT,
          "exec.skew" -> all.skew,
          "exec.task_failures" -> all.failedTasks.toDouble,
          "exec.useful_task_frac" -> (if (all.tasks > 0) 1.0 - all.failedTasks.toDouble / all.tasks else 1.0),
          "sources.output_mb" -> all.outputB / mb / nT,
          "sources.files_written" -> (cycles.flatMap(snapshotFiles.get).map(_._2).sum +
            tSpans.filter(s => s.name == "op").flatMap(s => pipelineFiles.get(s.trace)).sum) / nT,
          "snapshot.create_s" -> med(snap("snapshot.create")),
          "snapshot.merge_s" -> med(snap("snapshot.merge")),
          "snapshot.delete_s" -> med(snap("snapshot.delete")),
          "snapshot.compact_s" -> med(snap("snapshot.compact")),
          "snapshot.read_s" -> med(snap("snapshot.read") ++ snap("snapshot.read_v0")),
          "snapshot.vacuum_s" -> med(snap("snapshot.vacuum")),
          "snapshot.jobs_per_commit" -> (if (cycles.isEmpty) 0.0 else commitWork.jobs / (4.0 * cycles.size)),
          "snapshot.write_amp" -> (if (latestBytes > 0) snapWork.outputB.toDouble / latestBytes else 0.0),
          "pipeline.dag_s" -> med(pipes.map(_.seconds)),
          "pipeline.jobs" -> (if (pipes.isEmpty) 0.0 else workIn(s => traced(s) && s.name == "pipeline.run").jobs.toDouble / pipes.size),
          "pipeline.attempts" -> (if (pipes.isEmpty) 0.0 else pipes.flatMap(p => pipelineAttempts.get(p.trace)).sum.toDouble / pipes.size),
          "stream.run_s" -> streamS / nT,
          "stream.batches" -> streamProgress.size / nT,
          "stream.rows_per_s" -> (if (streamS > 0) streamProgress.map(_.inputRows).sum / streamS else 0.0),
          "stream.state_rows" -> streamStateRows / nT,
          "stream.commit_s" -> streamProgress.map(_.commitMs).sum / 1e3 / nT,
          "jvm.gc_s" -> gcTraced / 1e3 / nT,
          "jvm.heap_peak_mb" -> heapPeak / mb,
          "jvm.rss_peak_mb" -> rssPeakMb,
          "trace.overhead_s" -> (med(tracedWalls) - med(plainWalls)))
        // per-op premise check: busy fraction and job count per op
        val perOp = cfg.ops.map { op =>
          val opSpans = tSpans.filter(s => s.name == "op" && s.trace.endsWith(s"/$op"))
          val ids = opSpans.flatMap(s => Attribution.subtree(allSpans, s)).toSet
          val w = workIn(s => ids(s.id))
          val act = opSpans.flatMap(s => Attribution.subtree(allSpans, s))
            .map(spanById).filter(s => actionNames(s.name))
          val actW = workIn(s => act.exists(_.id == s.id))
          val actS = act.map(_.seconds).sum
          Map("op" -> op, "latency_s" -> opSpans.map(_.seconds).sum / nT,
            "jobs" -> w.jobs / nT, "tasks" -> w.tasks / nT,
            "busy_frac" -> (if (actS > 0) actW.taskS / (actS * cfg.cpus) else 0.0),
            "first_s" -> firstByOp.getOrElse(op, 0.0),
            "steady_s" -> steadyByOp.getOrElse(op, 0.0))
        }
        result("layer") = layer
        result("per_op") = perOp
        Files.writeString(Paths.get(out("trace.json")), Json(Map(
          "workload" -> wl,
          "spans" -> allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent,
            "name" -> s.name, "trace" -> s.trace, "start_ms" -> s.startMs,
            "end_ms" -> s.endMs, "seconds" -> s.seconds)),
          "jobs" -> jobs.sortBy(_.id).map(j => Map("id" -> j.id, "start_ms" -> j.startMs,
            "span" -> Attribution.spanOf(allSpans, j.startMs).map(_.id))),
          "per_op" -> perOp,
          "first_touch" -> firstTouch,
          "layer" -> layer)))
      }
      Files.writeString(Paths.get(out("result.json")), Json(result))
    }
  }
}
