package graft.tools

import graft.{Bench, FrontierMain, SparkEntry}

/** Times a named subset of SparkEntry.queries (all, if none given) in
  * the session every entry point runs — the fast feedback loop for
  * per-query tuning without paying the full frontier headline.
  *
  * Usage: runMain graft.tools.TimeQueries <sfDir> [query ...]
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = FrontierMain.session()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      // the noop sink, not count(): count() lets Catalyst prune projections
      val (rows, sec) = Bench.timed(Bench.force(fn(spark, sfDir)))
      spark.catalog.clearCache()
      println(f"$n%-32s $sec%8.2fs  $rows%d rows")
    }
    spark.stop()
  }
}
