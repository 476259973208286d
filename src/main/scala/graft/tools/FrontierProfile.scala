package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Bench

/** Stage-wise timing of the frontier headline job — dev feedback loop.
  * Forces materialization through the noop sink (a bare count() lets
  * Catalyst prune the very projections being measured) and warms codegen
  * before each timing.
  */
object FrontierProfile {

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_FRONTIER_N", "8000000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String)(df: => DataFrame): Unit = {
      Bench.force(df) // warmup (codegen + JIT)
      val (_, sec) = Bench.timed(Bench.force(df))
      println(f"[profile] $name%-28s $sec%8.2f s  (${(n / sec).toLong}%,d rows/s of n)")
    }

    def cand = Bench.candidateUrls(spark, n)
    def seen = Bench.seenUrls(spark, n)

    t("gen+canonicalize")(cand)
    t("bloom build") {
      graft.seen.UrlSeen.buildSegments(seen, "canonical_url", 32,
        math.max(1000L, n / 32), 1e-6)
    }
    val segments = graft.seen.UrlSeen.buildSegments(seen, "canonical_url", 32,
      math.max(1000L, n / 32), 1e-6).cache()
    segments.count()
    t("probe only (no confirm)") {
      // phase-1 path in isolation: flag rows, no join
      graft.seen.UrlSeen.filterUnseen(cand, segments,
        seen.limit(0), "canonical_url", 32)
    }
    t("filterUnseen (full)") {
      graft.seen.UrlSeen.filterUnseen(cand, segments, seen, "canonical_url", 32)
    }
    t("filterUnseen (copart)") {
      // the 10^10-scale path forced regardless of segment size
      graft.seen.UrlSeen.filterUnseen(cand, segments, seen, "canonical_url", 32,
        maxBroadcastBytes = 0L)
    }
    val unseen = graft.seen.UrlSeen
      .filterUnseen(cand, segments, seen, "canonical_url", 32)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    unseen.count()
    t("salted rank (from persist)") {
      graft.politeness.Scheduler.saltedHostRank(unseen, "host",
        bucketCol = floor(col("uid") / 100000L), orderCols = Seq(col("uid").asc))
    }
    t("rank+epochs (from persist)") {
      graft.politeness.Scheduler.assignEpochs(
        graft.politeness.Scheduler.saltedHostRank(unseen, "host",
          bucketCol = floor(col("uid") / 100000L),
          orderCols = Seq(col("uid").asc)),
        "host_rank", lit(1000))
    }
    spark.stop()
  }
}
