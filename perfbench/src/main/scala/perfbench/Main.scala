package perfbench

import java.io.File

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Runs one workload and writes its raw record (operations, jobs, checks
  * and values) as JSON. `run.py` derives the metrics from that record.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cpus <n> --work <dir> --out <file>
  */
object Main {
  val workloads: Map[String, Run => Unit] = Map(
    "fm_hashed_maxint" -> FmWorkloads.hashedMaxInt,
    "battery_mix" -> Battery.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val settings = Settings(
      workload = opts("workload"), seed = opts("seed").toLong,
      seconds = opts("seconds").toDouble, traced = opts("trace") == "1",
      cpus = opts("cpus").toInt, work = new File(opts("work")),
      out = new File(opts("out")))
    val workload = workloads.getOrElse(settings.workload,
      throw new IllegalArgumentException(s"unknown workload ${settings.workload}"))
    val run = new Run(settings)
    val fatal =
      try { workload(run); None }
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] workload ${settings.workload} " +
            s"failed: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          Some(s"${e.getClass.getName}: ${e.getMessage}")
      }
    val jobs = Option(run.spark).map { s =>
      org.apache.spark.perfbench.ListenerDrain(s.sparkContext)
      run.recorder.jobs
    }.getOrElse(Nil)
    val record = Map(
      "workload" -> settings.workload, "seed" -> settings.seed,
      "seconds" -> settings.seconds, "traced" -> settings.traced,
      "cpus" -> settings.cpus, "fatal" -> fatal,
      "setup_s" -> run.setupSeconds,
      "ops" -> run.ops.map(o => Map("name" -> o.name, "group" -> o.group,
        "pass" -> o.pass, "start_ms" -> o.startMs, "end_ms" -> o.endMs,
        "s" -> o.seconds, "ok" -> o.ok, "error" -> o.error)),
      "jobs" -> jobs.map { j =>
        val base = Map("id" -> j.id, "group" -> j.group, "start_ms" -> j.startMs,
          "end_ms" -> j.endMs, "ok" -> j.succeeded, "cpu_ns" -> j.cpuNs)
        if (!settings.traced) base
        else base ++ Map("tasks" -> j.tasks,
          "shuffle_write_bytes" -> j.shuffleWriteBytes,
          "shuffle_read_bytes" -> j.shuffleReadBytes,
          "spill_bytes" -> j.spillBytes, "gc_ms" -> j.gcMs,
          "task_intervals" -> j.taskIntervals)
      },
      "checks" -> run.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "values" -> run.values)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(settings.out, record)
    try run.stop() catch {
      case NonFatal(e) => System.err.println(s"[perfbench] stop failed: $e")
    }
  }
}
