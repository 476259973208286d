package graft.tools

import org.apache.spark.sql.functions._

import graft.{Bench, FrontierMain}
import graft.model.Fixtures

/** Dumps the deterministic crawl fixtures as parquet so the generic
  * FrontierMain input path (`--listings=`/`--pages=`/`--sources=`/
  * `--robots=`) can be driven over ON-DISK data — the lifecycle demo in
  * BENCH.md §5 runs the SAME pipeline over these files instead of
  * in-memory fixture generation (r2 "What's missing" #6).
  *
  * {{{ sbt "runMain graft.tools.DumpFixtures /tmp/fm-inputs 12 4" }}}
  *
  * The listings dump carries a `tick` column (multi-tick publish stream);
  * FrontierMain prunes it per tick.
  */
object DumpFixtures {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/fm-inputs")
    val nSources = args.lift(1).map(_.toInt).getOrElse(12)
    val nTicks = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = FrontierMain.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    (0 until nTicks)
      .map(t => Fixtures.listItemsAt(spark, nSources, 30, t).toDF()
        .withColumn("tick", lit(t)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/listings")
    Fixtures.pageStore(spark, nSources, maxTick = nTicks - 1).toDF()
      .write.mode("overwrite").parquet(s"$out/pages")
    Fixtures.sourceSpecs(nSources).toDF()
      .write.mode("overwrite").parquet(s"$out/sources")
    Fixtures.robots(nSources).toDF()
      .write.mode("overwrite").parquet(s"$out/robots")
    println(Bench.Json.writeValueAsString(Bench.Json.createObjectNode()
      .put("dumped", out).put("sources", nSources).put("ticks", nTicks)))
    spark.stop()
  }
}
