package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One operation: a single call into the engine, timed, and failed when
  * it threw. */
final case class OpRecord(
    name: String, group: String, pass: Int, startMs: Long, endMs: Long,
    seconds: Double, ok: Boolean, error: String)

/** Settings of one benchmark run, from the command line. */
final case class Settings(
    workload: String, seed: Long, seconds: Double, traced: Boolean,
    cpus: Int, work: File, out: File)

/** State of one run: the session, the listener, and everything recorded.
  * Operations run one after another on the calling thread (a closed loop
  * with one client). */
final class Run(val settings: Settings) {
  import settings._

  private var session: SparkSession = _
  private var recorderOfSession: Recorder = _
  val ops: ArrayBuffer[OpRecord] = ArrayBuffer.empty
  val setupSeconds: ArrayBuffer[Double] = ArrayBuffer.empty
  val checks: ArrayBuffer[(String, Boolean, String)] = ArrayBuffer.empty
  /** Values measured outside the timed region (counts, quality, notes). */
  val values: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def spark: SparkSession = session
  def recorder: Recorder = recorderOfSession

  /** Stops the current session, if any, and starts a fresh one with the
    * engine's extensions and a new listener. */
  def startSession(): SparkSession = {
    if (session != null) {
      session.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    // graft.Bench's session settings, with the warehouse in the work dir
    session = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.warehouse.dir",
        new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    recorderOfSession = new Recorder(traced)
    session.sparkContext.addSparkListener(recorderOfSession)
    session
  }

  /** Runs `setup` `reps` times, each in a fresh session, and records each
    * repetition's wall time. The last repetition's session and result are
    * the ones the timed region uses. */
  def setUp[T](reps: Int)(setup: Int => T): T = {
    var result: Option[T] = None
    for (rep <- 1 to reps) {
      val t0 = System.nanoTime()
      startSession()
      spark.sparkContext.setJobGroup(s"setup#$rep", "setup")
      result = Some(setup(rep))
      spark.sparkContext.clearJobGroup()
      setupSeconds += (System.nanoTime() - t0) / 1e9
    }
    result.get
  }

  /** Runs `body` as operation `name` under the job group `group`,
    * timing it. A failure is printed to stderr with its exception class
    * and message and recorded; it never passes silently. */
  def op[T](name: String, group: String, pass: Int)(body: => T): Option[T] = {
    spark.sparkContext.setJobGroup(group, name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try Right(body)
      catch {
        case NonFatal(e) => Left(e)
      }
    val seconds = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    spark.sparkContext.clearJobGroup()
    val error = result.left.toOption.map { e =>
      val msg = s"${e.getClass.getName}: ${e.getMessage}"
      System.err.println(s"[perfbench] operation $group failed: $msg")
      msg
    }
    ops += OpRecord(name, group, pass, startMs, endMs, seconds,
      error.isEmpty, error.orNull)
    result.toOption
  }

  /** Records an output check. A check that throws fails with its reason. */
  def check(name: String)(body: => (Boolean, String)): Unit = {
    val (ok, detail) =
      try body
      catch {
        case NonFatal(e) => (false, s"${e.getClass.getName}: ${e.getMessage}")
      }
    checks += ((name, ok, detail))
  }

  /** Runs one warm-up pass (pass 0), which pays JIT compilation and code
    * generation, then timed passes until `seconds` have elapsed, at least
    * one. Warm-up operations are recorded and can fail; the warm-up's wall
    * time is part of set-up, so work moved into the first pass shows. */
  def timedLoop(pass: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    pass(0)
    values("warmup_s") = (System.nanoTime() - t0) / 1e9
    heapPools.foreach(_.resetPeakUsage())
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (n == 0 || System.nanoTime() < deadline) {
      n += 1
      pass(n)
    }
    // an upper bound: the sum of each heap pool's own peak
    values("heap_peak_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    values("passes") = n
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Runs `body` under a job group that no timed operation uses. */
  def untimed[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  def stop(): Unit = if (session != null) session.stop()
}
