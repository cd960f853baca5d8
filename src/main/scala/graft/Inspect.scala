package graft

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Hand-run inspection of registered queries on $SPARK_GRAFT_SF_DIR
  * ($SPARK_GRAFT_CPUS threads) — the evidence behind plan and "the
  * residual is X" claims (SURVEY §5, §7). Two views:
  *
  *   sbt "runMain graft.Inspect plans"
  *     PLANS.md in the CWD: the AQE final plan of EVERY registered query.
  *     Full coverage is the point — the one r3 query with a pathological
  *     plan was exactly the one a headline-only audit skipped.
  *   sbt "runMain graft.Inspect plans plans/rN _after q_reorder_rate ..."
  *     `<outDir>/<query><suffix>.txt` per named query: explain(formatted)
  *     plus the AQE final plan — the before/after evidence of a round
  *     (claims like "zero Exchange" are only visible post-AQE).
  *   sbt "runMain graft.Inspect stages q5_nation_volume ..."
  *     Per-stage table of a warmed run: wall, summed task and CPU time,
  *     input/shuffle bytes, task count and the stage's callsite name.
  *     Look for a stage whose wall far exceeds task_s / cpus, or whose
  *     task count is single-digit.
  */
object Inspect {

  /** Runs `df` and returns its AQE final plan. The initial plan is cut:
    * it doubles the text without adding review signal (AQE's choices
    * ARE the review target). */
  def finalPlan(df: DataFrame): String = {
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val i = p.indexOf("+- == Initial Plan ==")
    if (i < 0) p else p.substring(0, i)
  }

  /** One stage of a profiled run: wall ms, callsite name, task metrics. */
  final case class Stage(id: Int, wallMs: Long, name: String, tasks: Seq[TaskMetrics])

  /** Profiles the second (warmed) run of `query`: the first absorbs JIT
    * and staged-table builds, so the profile shows the steady-state plan
    * the way Bench measures it. Only stages submitted under the profiled
    * run's job group count. Returns wall seconds, row count and the
    * stages in id order. */
  def stages(spark: SparkSession, sfDir: String, query: String): (Double, Long, Seq[Stage]) = {
    val q = SparkEntry.queries(query)
    q(spark, sfDir).count()
    spark.catalog.clearCache()
    val group = s"graft-inspect-$query"
    val submitted = TrieMap.empty[Int, (Long, String)]
    val tasks = TrieMap.empty[Int, Vector[TaskMetrics]]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          submitted.put(e.stageInfo.stageId, (0L, e.stageInfo.name.linesIterator.next().take(120)))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (submitted.contains(e.stageId) && e.taskMetrics != null)
          tasks.updateWith(e.stageId)(ms => Some(ms.getOrElse(Vector.empty) :+ e.taskMetrics))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        for (name <- submitted.get(i.stageId).map(_._2); s <- i.submissionTime; c <- i.completionTime)
          submitted.put(i.stageId, (c - s, name))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, query)
    val (wall, rows) = try {
      val t0 = System.nanoTime()
      val n = q(spark, sfDir).count()
      ((System.nanoTime() - t0) / 1e9, n)
    } finally {
      sc.clearJobGroup()
      // the listener bus is async: give it a beat to drain before detaching
      Thread.sleep(500)
      sc.removeSparkListener(listener)
    }
    (wall, rows, tasks.toSeq.sortBy(_._1).map { case (id, ms) =>
      val (wallMs, name) = submitted(id)
      Stage(id, wallMs, name, ms)
    })
  }

  private val plansHeader =
    """# PLANS — physical plans of every registered query
      |
      |Generated by `graft.Inspect plans` on `%s` (AQE final plans). The
      |things to see: `PushedFilters`/`ReadSchema` at the scans,
      |`BroadcastHashJoin` on every dim side, `TakeOrderedAndProject` for
      |top-k, numbered `REPARTITION_BY_NUM` exchanges pinning fan-out
      |joins, `InMemoryTableScan` where a subtree is deliberately
      |materialized once, and `*(n)` whole-stage-codegen spans.
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val usage = "usage: Inspect plans [<outDir> <suffix> <query>...] | Inspect stages <query>..."
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error(s"set SPARK_GRAFT_SF_DIR; $usage"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // The one query loop both views share: each query is built fresh
    // and its persisted intermediates are dropped before the next.
    def each(spark: SparkSession, names: Seq[String])(view: String => Unit): Unit =
      names.foreach { name => view(name); spark.catalog.clearCache() }
    val run: SparkSession => Unit = args.toList match {
      case List("plans") => spark =>
        val names = SparkEntry.queries.keys.toSeq.sorted
        val sb = new StringBuilder(plansHeader.format(sfDir))
        each(spark, names) { name =>
          sb ++= s"\n## $name\n\n```\n${finalPlan(SparkEntry.queries(name)(spark, sfDir))}```\n"
        }
        Files.writeString(Paths.get("PLANS.md"), sb.toString)
        println(s"[inspect] wrote PLANS.md (${names.size} queries)")
      case "plans" :: outDir :: suffix :: names if names.nonEmpty => spark =>
        Files.createDirectories(Paths.get(outDir))
        each(spark, names) { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          val formatted = df.queryExecution.explainString(FormattedMode)
          val fin = try finalPlan(df) catch { case t: Throwable => s"(execution failed: $t)" }
          val out = Paths.get(outDir, s"$name$suffix.txt")
          Files.writeString(out, s"== explain(formatted), $sfDir ==\n\n$formatted" +
            s"\n\n== AQE final executed plan ==\n\n$fin\n")
          println(s"[inspect] $name -> $out")
        }
      case "stages" :: names if names.nonEmpty => spark =>
        each(spark, names) { name =>
          val (wall, rows, ss) = stages(spark, sfDir, name)
          println(f"== $name: $wall%.3f s wall, $rows rows")
          println("stage  wall_s  task_s   cpu_s  tasks    in_MB  in_Mrec  shufR_MB  shufW_MB  name")
          ss.foreach { case Stage(id, wallMs, stageName, ts) =>
            def sum(f: TaskMetrics => Long): Double = ts.map(f).sum.toDouble
            println(f"$id%5d ${wallMs / 1e3}%7.2f ${sum(_.executorRunTime) / 1e3}%7.1f " +
              f"${sum(_.executorCpuTime) / 1e9}%7.1f ${ts.size}%6d " +
              f"${sum(_.inputMetrics.bytesRead) / 1e6}%8.1f ${sum(_.inputMetrics.recordsRead) / 1e6}%8.2f " +
              f"${sum(_.shuffleReadMetrics.totalBytesRead) / 1e6}%9.1f " +
              f"${sum(_.shuffleWriteMetrics.bytesWritten) / 1e6}%9.1f  $stageName")
          }
        }
      case _ => sys.error(usage)
    }
    val spark = GraftSession.local("graft-inspect", cpus)
    run(spark)
    Watchdog.stopAndHalt(spark, "inspect")
  }
}
