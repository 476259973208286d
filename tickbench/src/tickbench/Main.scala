package tickbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Counts operations, failures and metrics for one run. An operation that
  * throws or fails its check is a failure; its time enters no metric.
  */
final class Recorder {
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val extra = mutable.LinkedHashMap[String, Any]()

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Runs one operation; None if it threw. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        notes += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400)
        None
    }
  }

  /** Records the verdict of an operation's check; false marks it failed. */
  def verdict(what: String, mismatches: Seq[String]): Boolean =
    if (mismatches.isEmpty) true
    else {
      failed += 1
      notes += s"$what: ${mismatches.take(3).mkString("; ")}".take(400)
      false
    }
}

/** What every workload gets: the session, the tracer, the recorder and
  * the run's arguments.
  */
final case class Ctx(spark: SparkSession, tr: Tracer, rec: Recorder,
    seed: Long, seconds: Int, work: String, tiny: Boolean) {
  val cores: Int = spark.sparkContext.defaultParallelism
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = (lo + 1).min(s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Main {

  private def cpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
    * --out FILE --t0-ms EPOCH_MS --data DIR --oracle SCRIPT --trace-out FILE [--tiny 1]
    */
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val t0Ms = opts.get("t0-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean
        .getStartTime)

    // the session FrontierMain builds: local[nproc], UTC, the graft SQL
    // functions registered; nothing else
    val spark = SparkSession.builder()
      .appName("graft-frontier")
      .config("spark.sql.session.timeZone", "UTC")
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(spark)
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3

    val rec = new Recorder
    val tr = new Tracer(spark, trace)
    val ctx = Ctx(spark, tr, rec, opts("seed").toLong, opts("seconds").toInt,
      work, opts.get("tiny").contains("1"))

    val jiffies0 = graft.Bench.readCpuJiffies()
    val cpu0 = cpuNanos
    val w0 = System.nanoTime()
    val setupS = workload match {
      case "tick_fixture" => Ticks.run(ctx)
      case "corpus_queries" => Queries.run(ctx, opts("data"), opts("oracle"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val noise = graft.Bench.benchNoise(jiffies0, graft.Bench.readCpuJiffies(),
      cpu0, cpuNanos, (System.nanoTime() - w0) / 1e9)
    rec.put("setup_s", sessionS + setupS, "s")
    rec.put("peak_rss_mb", peakRssMb, "MiB")
    tr.stop()

    val quiet = noise.stealFrac.forall(_ < 0.05) &&
      noise.externalBusyFrac.forall(_ < 0.10)
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("workload", workload)
    out.put("trace", trace)
    out.put("attempted", rec.attempted)
    out.put("failed", rec.failed)
    out.put("notes", rec.notes.asJava)
    out.put("metrics", rec.metrics.map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u).asJava }.asJava)
    out.put("noise", Map(
      "label" -> (if (quiet) "quiet" else "noisy"),
      "steal_frac" -> noise.stealFrac.getOrElse(-1.0),
      "busy_frac" -> noise.busyFrac.getOrElse(-1.0),
      "own_cpu_frac" -> noise.ownCpuFrac,
      "foreign_busy_frac" -> noise.externalBusyFrac.getOrElse(-1.0)).asJava)
    rec.extra.foreach { case (k, v) => out.put(k, v) }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.writeString(Paths.get(opts("out")), mapper.writeValueAsString(out))
    if (trace) writeTrace(tr, Paths.get(opts("trace-out")), mapper)
    spark.stop()
  }

  private def writeTrace(tr: Tracer, path: Path,
      mapper: com.fasterxml.jackson.databind.ObjectMapper): Unit = {
    val self = tr.selfTimes
    val spans = tr.spans.sortBy(_.id).map { s =>
      Map[String, Any]("id" -> s.id, "trace_id" -> s.traceId,
        "name" -> s.name, "start" -> s.startNs / 1e9, "end" -> s.endNs / 1e9,
        "parent" -> s.parent, "self_s" -> self(s.id)).asJava
    }.asJava
    val ops = tr.operators.map { case (g, op, ms) =>
      Map[String, Any]("group" -> g, "operator" -> op,
        "metrics" -> ms.asJava).asJava
    }.asJava
    val groups = tr.groups.map { case (g, s) =>
      g -> Map[String, Any]("jobs" -> s.jobs, "stages" -> s.stages,
        "tasks" -> s.tasks, "task_ms" -> s.taskMs, "sched_ms" -> s.schedMs,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "shuffle_read_bytes" -> s.shuffleReadBytes,
        "spill_bytes" -> s.spillBytes, "bytes_written" -> s.bytesWritten,
        "task_skew" -> s.taskSkew, "sql_executions" -> s.sqlExecutions).asJava
    }.asJava
    Files.writeString(path, mapper.writeValueAsString(
      Map("spans" -> spans, "groups" -> groups, "operators" -> ops).asJava))
  }
}
