package graft

import com.fasterxml.jackson.databind.node.ObjectNode

/** One pinned scaling arm of [[Bench]] in its own JVM: `SPARK_GRAFT_ARM`
  * cores time [[Bench.frontierTick]] at `SPARK_GRAFT_FRONTIER_N` after a
  * full-size warmup, `SPARK_GRAFT_ARM_RUNS` times, each run bracketed by
  * its own /proc/stat read over `SPARK_GRAFT_ARM_CPUSET`. Prints one
  * `scaling_run` line per run, then one `scaling_arm` line with the best.
  * [[Bench.runPinnedArms]] launches it and sets every variable.
  */
object ScalingBench {

  /** "lo-hi" (the taskset range the parent pinned this JVM to) → cpu set.
    * The child cannot derive this itself: under taskset,
    * `Runtime.availableProcessors` returns the PINNED count, not the
    * box's cpu indices.
    */
  def parseCpuRange(s: String): Option[Set[Int]] =
    s.split("-") match {
      case Array(lo, hi) if lo.forall(_.isDigit) && hi.forall(_.isDigit) =>
        Some((lo.toInt to hi.toInt).toSet)
      case _ => None
    }

  /** One JSON line, rendered by Jackson: '.' decimals whatever the locale. */
  private def line(fill: ObjectNode => ObjectNode): String =
    Bench.Json.writeValueAsString(fill(Bench.Json.createObjectNode()))

  /** One timed run's telemetry line — what [[Bench.parseRuns]] reads back. */
  def runLine(cpus: Int, run: Int, sec: Double, steal: Option[Double],
      offBusy: Option[Double]): String =
    line(_.put("metric", "scaling_run").put("cpus", cpus).put("run", run)
      .put("sec", Bench.dec(Some(sec), 3)).put("steal_frac", Bench.dec(steal, 4))
      .put("offarm_busy_frac", Bench.dec(offBusy, 4)))

  def arm(cpus: Int, frontierN: Long): Double = {
    val spark = Bench.session(cpus.toString)
    spark.sparkContext.setLogLevel("WARN")
    // warmup at FULL size: the first full-size run pays heap expansion,
    // page-fault and JIT-tier costs (measured 5× the steady state)
    Bench.frontierTick(spark, frontierN)
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_ARM_RUNS", "3").toInt
    // Per-run noise bracketing (r4): each TIMED RUN reads /proc/stat
    // around itself and self-reports steal + off-arm busy fractions. The
    // parent's whole-child bracket spans warmup + every run, so one host
    // burst anywhere in that window would poison all of the child's runs;
    // a run-level bracket (set-up included) lets the quiet runs inside a
    // partially-noisy child still count. A run whose commit fails the
    // check is no sample: the arm fails.
    val armCpus = sys.env.get("SPARK_GRAFT_ARM_CPUSET").flatMap(parseCpuRange)
    val secs = (1 to nRuns).map { i =>
      val before = Bench.readCpuJiffies()
      val run = Bench.frontierTick(spark, frontierN)
      val after = Bench.readCpuJiffies()
      require(run.ok, s"frontier tick at n=$frontierN failed its check")
      val (steal, offBusy) = (before, after, armCpus) match {
        case (Some(b), Some(a), Some(set)) => Bench.cpuNoise(b, a, set)
        case _ => (None, None)
      }
      println(runLine(cpus, i, run.sec, steal, offBusy))
      run.sec
    }
    spark.stop()
    secs.min // best-of-n: drops residual JIT/GC noise
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env("SPARK_GRAFT_ARM").toInt
    val frontierN = Bench.frontierN
    val sec = arm(cpus, frontierN)
    println(line(_.put("metric", "scaling_arm").put("cpus", cpus)
      .put("sec", Bench.dec(Some(sec), 2)).put("frontier_n", frontierN)
      .put("urls_per_sec", (frontierN / sec).toLong)))
  }
}
