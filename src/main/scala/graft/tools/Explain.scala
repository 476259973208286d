package graft.tools

import graft.FrontierMain

/** Plan-inspection runner: `runMain graft.tools.Explain <queryName> [sfDir]`
  * prints the formatted physical plan + a 5-row sample — the feedback loop
  * for keeping scans pruned, joins broadcast, and codegen spans wide.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_dedup_bootstrap")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = FrontierMain.session()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    df.show(5, truncate = false)
    spark.stop()
  }
}
