package graft.tools

import graft.FrontierMain
import graft.operators.TrainingOps

/** Standalone ANN recall measurement: the LSH and image Hamming
  * multi-probe curves and every recall-table row
  * ([[TrainingOps.AnnRecalls]]) at a given sf dir — the same numbers Bench
  * records, under the same keys, runnable without the full bench (used to
  * tune the recall dials, and to diff the curves against a parent).
  *
  * Usage: SPARK_GRAFT_CPUS=N runMain graft.tools.AnnRecall [sfDir]
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = FrontierMain.session()
    spark.sparkContext.setLogLevel("WARN")
    TrainingOps.lshRecallCurve(spark, sfDir).foreach { case (p, r, c) =>
      println(f"lsh probes=$p recall@10=$r%.3f candidates=$c")
    }
    TrainingOps.imageHammingRecallCurve(spark).foreach { case (p, r, c) =>
      println(f"image probes=$p recall@10=$r%.3f candidates=$c")
    }
    TrainingOps.annRecalls(spark, sfDir).foreach { case (key, r) =>
      println(f"$key=$r%.3f")
    }
    spark.stop()
  }
}
