package graft

import com.fasterxml.jackson.databind.node.ObjectNode

/** One pinned scaling arm of [[Bench]] in its own JVM: `SPARK_GRAFT_ARM`
  * cores time [[Bench.frontierTick]] at `SPARK_GRAFT_FRONTIER_N` after a
  * full-size warmup, `SPARK_GRAFT_ARM_RUNS` times, each run bracketed by
  * its own noise read ([[Bench.armNoise]]). Prints one `scaling_run` line
  * per run, then one `scaling_arm` line with the best.
  * [[Bench.runPinnedArms]] launches it and sets every variable.
  */
object ScalingBench {

  /** One JSON line, rendered by Jackson: '.' decimals whatever the locale. */
  private def line(fill: ObjectNode => ObjectNode): String =
    Bench.Json.writeValueAsString(fill(Bench.Json.createObjectNode()))

  /** One timed run's telemetry line — what [[Bench.parseRuns]] reads back. */
  def runLine(cpus: Int, run: Int, sec: Double, steal: Option[Double],
      externalBusy: Option[Double]): String =
    line(_.put("metric", "scaling_run").put("cpus", cpus).put("run", run)
      .put("sec", Bench.dec(Some(sec), 3)).put("steal_frac", Bench.dec(steal, 4))
      .put("external_busy_frac", Bench.dec(externalBusy, 4)))

  def arm(cpus: Int, frontierN: Long): Double = {
    val spark = FrontierMain.session(cpus.toString)
    spark.sparkContext.setLogLevel("WARN")
    // warmup at FULL size: the first full-size run pays heap expansion,
    // page-fault and JIT-tier costs (measured 5× the steady state)
    Bench.frontierTick(spark, frontierN)
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_ARM_RUNS", "3").toInt
    // Per-run noise bracketing (r4): each TIMED RUN reads /proc/stat and
    // this JVM's cpu time around itself and self-reports steal + external
    // busy fractions. A bracket over the whole child would span warmup +
    // every run, so one host burst anywhere in that window would poison
    // all of the child's runs; a run-level bracket (set-up included) lets
    // the quiet runs inside a partially-noisy child still count. A run
    // whose commit fails the check is no sample: the arm fails.
    val secs = (1 to nRuns).map { i =>
      val (jiffies0, own0, t0) =
        (Bench.readCpuJiffies(), Bench.ownCpuNanos, System.nanoTime())
      val run = Bench.frontierTick(spark, frontierN)
      val noise = Bench.armNoise(jiffies0, Bench.readCpuJiffies(), own0,
        Bench.ownCpuNanos, (System.nanoTime() - t0) / 1e9)
      require(run.ok, s"frontier tick at n=$frontierN failed its check")
      println(runLine(cpus, i, run.sec, noise.stealFrac,
        noise.externalBusyFrac))
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
