package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Per-query execution guard for the driver-run harness mains (Verify,
  * Bench), plus the run guards those mains share: the DuckDB sweep-lock
  * wait, the hard-deadline reaper and the bounded teardown.
  *
  * Round-4 postmortem: the driver's external `timeout` killed both
  * harness runs (BENCH_r04 rc=124, CORRECTNESS_r04 empty) while the host
  * was in one of its ~100×-degraded CPU phases (SURVEY §7 environment
  * note). One stuck or degraded query must never consume the whole
  * process budget — each query runs inside a Spark job group whose jobs
  * are cancelled after a cap, so the harness records a failure for THAT
  * query and moves on. Streaming queries bound themselves separately via
  * `awaitTermination(timeout)` (their micro-batch jobs run on the stream
  * execution thread under its own job group, out of reach of this
  * cancellation).
  */
object Watchdog {

  /** Per-query cap in seconds (default 120; env-overridable). A normal
    * query at these scale factors is sub-second to a few seconds; the cap
    * only bites in degraded phases, where bounding the damage is the
    * point. Lowered 240 -> 120 after r5: five consecutive capped queries
    * burned 20 minutes of the external budget and ~50 queries behind them
    * were never attempted — at these scales anything past 120 s is a
    * degraded host, not a computing query. */
  def queryCapSec: Int =
    sys.env.getOrElse("SPARK_GRAFT_QUERY_CAP_SEC", "120").toInt

  /** Cap of the attempt currently running under [[runCapped]]. Streaming
    * queries bound themselves via `awaitTermination(timeout)` — their
    * micro-batch jobs are out of cancelJobGroup's reach — and must use
    * the CALLER's per-attempt cap, not the global default: Verify's
    * 60 s pass-1 cap would otherwise be silently tripled by three
    * streams each blocking the full 120 s (r6 advisor find). Harness
    * mains run attempts sequentially on one thread, so a volatile
    * save/restore is sufficient. */
  @volatile private var _attemptCapSec: Int = queryCapSec
  def attemptCapSec: Int = _attemptCapSec

  /** Run `body` under a cancellable job group; returns Left(reason) on
    * failure or cap expiry instead of throwing. */
  def runCapped[T](spark: SparkSession, name: String, capSec: Int)(body: => T): Either[String, T] = {
    val sc = spark.sparkContext
    val group = s"graft-capped-$name"
    sc.setJobGroup(group, name, interruptOnCancel = true)
    @volatile var fired = false
    val timer = new java.util.Timer(s"graft-watchdog-$name", true)
    // REPEATING cancel, not one-shot: a single cancelJobGroup fired
    // between jobs finds nothing to cancel ("Cannot find active jobs")
    // and the query's NEXT job then runs unbounded — the sf10 sweep lost
    // a whole Verify process that way (d_source_sim_est churned 412 s
    // past its 60 s cap until a task OOM killed the SparkContext). Regular
    // re-fires catch jobs as they start; timer.cancel() in the finally
    // stops the loop the moment the body returns.
    timer.scheduleAtFixedRate(new java.util.TimerTask {
      override def run(): Unit = { fired = true; sc.cancelJobGroup(group) }
    }, capSec * 1000L, 5000L)
    val prevCap = _attemptCapSec
    _attemptCapSec = capSec
    try Right(body)
    catch {
      case e: Throwable =>
        Left(if (fired) s"cancelled after ${capSec}s cap" else s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      _attemptCapSec = prevCap
      timer.cancel()
      sc.clearJobGroup()
    }
  }

  /** PID lock file held by every long DuckDB sweep (tools/sweep_lock.py).
    * A bench overlapping one measured 34 phantom >1.5x regressions in
    * unchanged code, so the harness mains wait for it to clear. */
  def sweepLockPath: Path =
    Paths.get(sys.env.getOrElse("GRAFT_SWEEP_LOCK", "/tmp/graft/oracle_sweep.lock"))

  /** True while a LIVE process holds `lock`. A missing file, unreadable
    * or non-numeric contents and a dead PID all read as free: a killed
    * sweep leaves a stale lock that must not block the harness forever. */
  def sweepLockHeld(lock: Path = sweepLockPath): Boolean = try {
    val pid = new String(Files.readAllBytes(lock), "UTF-8").trim.toLong
    ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)
  } catch { case _: Throwable => false }

  /** Wait up to `capSec` (polling every 10 s) for the sweep lock to
    * clear. Returns true if it is still held — the caller proceeds
    * contended and decides what that taints. */
  def awaitSweepLock(tag: String, capSec: Double): Boolean = {
    val lock = sweepLockPath
    val w0 = System.nanoTime()
    var warned = false
    while (sweepLockHeld(lock) && (System.nanoTime() - w0) / 1e9 < capSec) {
      if (!warned) {
        System.err.println(s"[$tag] DuckDB sweep lock held ($lock); " +
          f"waiting up to $capSec%.0f s for a clean window")
        warned = true
      }
      Thread.sleep(10000)
    }
    val held = sweepLockHeld(lock)
    if (held) System.err.println(s"[$tag] sweep lock STILL held — proceeding contended")
    held
  }

  /** Hard self-deadline (a 90 GB sf10 JVM once wedged in TEARDOWN,
    * ignoring SIGTERM for 7+ min — Spark's own shutdown hooks can hang on
    * a huge heap, and SIGKILL then loses every result). A daemon thread
    * polls every 5 s; once `budgetSec` plus a 120 s margin has passed
    * since `t0` (a System.nanoTime stamp) it evaluates `lastWords` and
    * halts the JVM with the returned exit code — halt skips the
    * wedgeable hooks. */
  def startDeadlineReaper(tag: String, t0: Long, budgetSec: Double)(lastWords: => Int): Unit =
    daemon(s"$tag-reaper") {
      while ((System.nanoTime() - t0) / 1e9 <= budgetSec + 120) Thread.sleep(5000)
      val code = lastWords
      System.err.println(s"[$tag] hard deadline reached — halting JVM")
      Runtime.getRuntime.halt(code)
    }

  /** Bounded teardown, for a main whose results are already out: stop
    * the session, then halt (skipping Spark's wedgeable shutdown hooks).
    * If stop() itself wedges, a daemon timer halts after 2 minutes. */
  def stopAndHalt(spark: SparkSession, tag: String): Unit = {
    daemon(s"$tag-teardown-reaper") { Thread.sleep(120000); Runtime.getRuntime.halt(0) }
    spark.stop()
    Runtime.getRuntime.halt(0)
  }

  private def daemon(name: String)(body: => Unit): Unit = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
  }
}
