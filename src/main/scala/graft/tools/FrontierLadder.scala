package graft.tools

import graft.{Bench, FrontierMain}

/** Frontier SIZE ladder: the headline tick ([[Bench.frontierTick]]) at
  * growing n (listing rows per tick) on FIXED resources — the linearity
  * evidence that complements the core-scaling arms (§2 of BENCH.md
  * measures throughput vs CORES at fixed n; this measures throughput vs n
  * at fixed cores). A tick whose per-row cost is flat in n holds its rows/s
  * as the frontier grows; a superlinear term (a driver collect, a
  * broadcast that stops fitting, a shuffle that spills) bends the curve.
  *
  * Usage: runMain graft.tools.FrontierLadder [n1 n2 ...]
  * (defaults 250k 500k 1M 2M; SPARK_GRAFT_CPUS as in [[Bench.cpus]])
  */
object FrontierLadder {
  def main(args: Array[String]): Unit = {
    val ns = if (args.nonEmpty) args.map(_.toLong).toSeq
      else Seq(250000L, 500000L, 1000000L, 2000000L)
    val spark = FrontierMain.session()
    spark.sparkContext.setLogLevel("WARN")
    // one full-size warmup at the LARGEST rung: heap growth + JIT paid
    // once, so every rung measures steady state (BENCH.md §1 discipline)
    Bench.frontierTick(spark, ns.max)
    val rows = ns.map { n =>
      val runs = Seq.fill(2)(Bench.frontierTick(spark, n))
      val run = runs.head
      val best = runs.map(_.sec).min
      val thr = (run.rows / best).toLong
      val ok = runs.forall(_.ok)
      println(f"[ladder] n=${run.rows}%d best=$best%.2fs urls_per_sec=$thr%d " +
        f"new_articles=${run.newArticles}%d ok=$ok")
      Bench.Json.createObjectNode().put("n", run.rows)
        .put("best_sec", Bench.dec(Some(best), 3)).put("urls_per_sec", thr)
        .put("new_articles", run.newArticles).put("ok", ok)
    }
    val ladder = Bench.Json.createObjectNode()
    val arr = ladder.putArray("frontier_ladder")
    rows.foreach(r => arr.add(r))
    println(Bench.Json.writeValueAsString(ladder))
    spark.stop()
  }
}
