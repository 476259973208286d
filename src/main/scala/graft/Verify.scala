package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The oracle map as one JSON object, written by Jackson: every quote,
    * backslash and control character in the SQL is escaped, so the
    * oracle compare's `json.load` (`tools/compare_oracle.py`) reads back
    * the same strings.
    */
  def oracleJson(sql: Seq[(String, String)]): String = {
    val o = Bench.Json.createObjectNode()
    sql.foreach { case (k, v) => o.put(k, v) }
    Bench.Json.writeValueAsString(o)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = FrontierMain.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // Fixture dump for the fixture-backed oracles (q_crawl_tick,
    // q_image_meta): the SAME deterministic tables the queries generate
    // in-memory, written where the oracle SQL reads them
    // (SparkEntry.FixtureDumpDir). canonical/host/path are data columns
    // here — their derivation is oracled separately (q_canonicalize_urls)
    // and property-tested (UrlCanonicalizerSpec).
    locally {
      import graft.model.Fixtures
      import graft.functions.UrlFunctions._
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val F = SparkEntry.FixtureDumpDir
      val nSources = 30
      def dump(df: org.apache.spark.sql.DataFrame, name: String): Unit =
        df.coalesce(1).write.mode("overwrite").parquet(s"$F/$name")
      dump(Fixtures.listItemsAt(spark, nSources, 30, tick = 0).toDF()
        .withColumn("canonical_url", canonicalize_url(col("url")))
        .withColumn("host", url_host(col("canonical_url")))
        .withColumn("path", url_path(col("canonical_url"))), "tick_listings")
      dump(Fixtures.sourceSpecs(nSources).toDF(), "tick_specs")
      dump(Fixtures.urlSeenSeed(spark, nSources, 6).toDF()
        .select("canonical_url"), "tick_seen")
      dump(Fixtures.robots(nSources).toDF(), "tick_robots")
      dump(Fixtures.pageStore(spark, nSources, maxTick = 0).toDF()
        .select("canonical_url", "image_id", "caption", "status"), "tick_pages")
      dump(Fixtures.images(spark, 2000L).toDF(), "images")
      dump(Fixtures.audios(spark, 2000L).toDF(), "audios")
      dump(Fixtures.videos(spark, 500L).toDF(), "videos")
    }

    // SPARK_GRAFT_ONLY=<comma list>: builder-side fast loop over a query
    // subset (dump + oracle json filtered together so compare_oracle.py
    // sees a consistent pair). Unset on the driver path → full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))

    SparkEntry.queries.filter(e => selected(e._1)).foreach {
      case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql.filter(e => selected(e._1)).toSeq))
    spark.stop()
  }
}
