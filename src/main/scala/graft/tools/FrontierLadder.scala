package graft.tools

import graft.Bench

/** Frontier SIZE ladder: the same job at growing n on FIXED resources —
  * the linearity evidence that complements the core-scaling arms (§2 of
  * BENCH.md measures throughput vs CORES at fixed n; this measures
  * throughput vs N at fixed cores). A scan→hash→probe→rank pipeline
  * whose per-URL cost is flat in n would hold its URLs/s as the frontier
  * grows; a superlinear term (a driver collect, a broadcast that stops
  * fitting, a shuffle that spills) shows up as a bending curve.
  *
  * Usage: runMain graft.tools.FrontierLadder [n1 n2 ...]
  * (defaults 2M 4M 8M 16M 32M; SPARK_GRAFT_CPUS honored, default 32)
  */
object FrontierLadder {
  def main(args: Array[String]): Unit = {
    val ns = if (args.nonEmpty) args.map(_.toLong).toSeq
      else Seq(2000000L, 4000000L, 8000000L, 16000000L, 32000000L)
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    // one full-size warmup at the LARGEST rung: heap growth + JIT paid
    // once, so every rung measures steady state (BENCH.md §1 discipline)
    Bench.force(Bench.frontierJob(spark, ns.max))
    spark.catalog.clearCache()
    val rows = ns.map { n =>
      val (_, s1) = Bench.timed(Bench.force(Bench.frontierJob(spark, n)))
      spark.catalog.clearCache()
      val (_, s2) = Bench.timed(Bench.force(Bench.frontierJob(spark, n)))
      spark.catalog.clearCache()
      val best = math.min(s1, s2)
      val thr = (n / best).toLong
      println(f"[ladder] n=$n%d best=$best%.2fs urls_per_sec=$thr%d")
      Bench.Json.createObjectNode().put("n", n)
        .put("best_sec", Bench.dec(Some(best), 3)).put("urls_per_sec", thr)
    }
    val ladder = Bench.Json.createObjectNode()
    val arr = ladder.putArray("frontier_ladder")
    rows.foreach(r => arr.add(r))
    println(Bench.Json.writeValueAsString(ladder))
    spark.stop()
  }
}
