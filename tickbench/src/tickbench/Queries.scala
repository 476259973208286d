package tickbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The `operators` query families over a fixed corpus: one `q_emb_*`
  * top-k query per ANN index family plus `q_doc_containment`, from
  * SparkEntry.queries, each forced through the noop sink, with the shuffle
  * width the repo's query drivers use. The corpus and the order are fixed:
  * the first query after start-up pays extra, and a seed-drawn order would
  * move that cost between queries from run to run. The pass observes each result's row count
  * and a checksum of its values; afterwards DuckDB runs the oracle SQL
  * and its results must give the same column names, count and checksum.
  */
object Queries {

  /** Flat, LSH, IVF, PQ, IVF-PQ, residual IVF-PQ, SQ8 and Matryoshka
    * top-k, and the document containment join.
    */
  val Names: Seq[String] = Seq("q_emb_topk", "q_emb_lsh_topk", "q_emb_ivf_topk",
    "q_emb_pq_topk", "q_emb_ivfpq_topk", "q_emb_ivfpq_res_topk",
    "q_emb_sq_topk", "q_emb_mrl_topk", "q_doc_containment")

  /** Set-up repetitions; each runs the warm-up query once. */
  val SetupReps = 2
  val WarmUp = "q_emb_lsh_buckets"

  /** Every value as text, the way the oracle compare reads it: numbers as
    * doubles rounded to 6 places, so integer widths, decimals and float
    * widths of the two engines agree.
    */
  private def norm(c: Column, t: DataType): Column = {
    val s = t match {
      case _: NumericType => round(c.cast(DoubleType), 6).cast(StringType)
      case ArrayType(et, _) => concat(lit("["),
        concat_ws(",", transform(c, x => norm(x, et))), lit("]"))
      case st: StructType => concat(lit("{"),
        concat_ws(",", st.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType)): _*),
        lit("}"))
      case BinaryType => hex(c)
      case _ => c.cast(StringType)
    }
    coalesce(s, lit("∅"))
  }

  /** Forces `df` through the noop sink observing (rows, checksum); the
    * checksum is a sum of row hashes, so it ignores row order.
    */
  def forceChecked(df: DataFrame): (Long, Long) = {
    val fields = df.schema.fields.sortBy(_.name)
    val h = pmod(xxhash64(fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType)): _*),
      lit(2147483647L))
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("rows"), coalesce(sum(h), lit(0L)).as("h"))
      .write.format("noop").mode("overwrite").save()
    val r = obs.get
    (r("rows").asInstanceOf[Long], r("h").asInstanceOf[Long])
  }

  private def columns(df: DataFrame): Seq[String] = df.columns.toSeq.sorted

  /** Runs the workload; returns the median set-up time. */
  def run(ctx: Ctx, data: String, oracle: String): Double = {
    import ctx._
    // the query surface's own drivers (graft.Bench, graft.Verify) run with
    // one shuffle partition per core
    spark.conf.set("spark.sql.shuffle.partitions", cores.toString)
    val setup = (0 until (if (tiny) 1 else SetupReps)).map { _ =>
      val t0 = System.nanoTime()
      tr.untraced(Force.rows(SparkEntry.queries(WarmUp)(spark, data)))
      (System.nanoTime() - t0) / 1e9
    }
    val names = if (tiny) Names.take(3) else Names

    final case class Done(secs: Double, rows: Long, hash: Long, cols: Seq[String])
    val done = mutable.LinkedHashMap[String, Done]()
    for (name <- names) {
      tr.beginTrace(name)
      val q0 = System.nanoTime()
      rec.attempt(s"query $name") {
        tr.span(s"operators.$name") {
          val df = SparkEntry.queries(name)(spark, data)
          (forceChecked(df), columns(df))
        }
      }.foreach { case ((n, h), cols) =>
        done(name) = Done((System.nanoTime() - q0) / 1e9, n, h, cols)
      }
    }

    // the check: DuckDB runs each oracle SQL over the same parquet files
    // and writes the result; it is read back and summed the same way
    val out = s"$work/oracle"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      mapper.writeValueAsString(
        SparkEntry.oracleSql.filter(e => done.contains(e._1)).asJava))
    val proc = new ProcessBuilder("python3", oracle, out, data)
      .redirectErrorStream(true).start()
    val report = new String(proc.getInputStream.readAllBytes())
    val exit = proc.waitFor()
    val ok = done.filter { case (n, d) =>
      val path = s"$out/$n.parquet"
      val bad =
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
          Seq(s"no oracle result (exit $exit): " +
            report.linesIterator.filter(_.contains(n)).mkString(" ").take(300))
        else tr.untraced {
          val want = spark.read.parquet(path)
          val (wn, wh) = forceChecked(want)
          Seq(
            if (columns(want) != d.cols) Some(s"columns ${d.cols} vs ${columns(want)}") else None,
            if (wn != d.rows) Some(s"rows ${d.rows} vs $wn") else None,
            if (wn == d.rows && wh != d.hash) Some("values differ") else None).flatten
        }
      rec.verdict(s"query $n", bad)
    }

    if (ok.nonEmpty) {
      val secs = ok.values.map(_.secs).toSeq
      rec.put("pass_s", secs.sum, "s")
      rec.put("rows_per_s", ok.values.map(_.rows).sum / secs.sum, "rows/s")
    }
    rec.extra("op_s") = done.map { case (n, d) => n -> d.secs }.asJava
    if (tr.enabled) {
      tr.drain()
      for (n <- Names) {
        val g = tr.groups.getOrElse(s"operators.$n", new GroupStats)
        rec.put(s"operators.$n.wall_s", ok.get(n).map(_.secs).getOrElse(0.0), "s")
        rec.put(s"operators.$n.jobs", g.jobs.toDouble, "count")
        rec.put(s"operators.$n.shuffle_bytes", g.shuffleWriteBytes.toDouble, "B")
      }
    }
    Stats.median(setup)
  }
}
