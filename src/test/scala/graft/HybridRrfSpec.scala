package graft

import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._

import graft.operators.{SearchOps, TrainingOps}

/** Reciprocal-rank-fusion laws: the integer score formula, the
  * both-lists-dominate property (with k=60 and depth 10, a doc on both
  * lists ALWAYS outranks a doc on one), rank contiguity, and source
  * attribution.
  */
class HybridRrfSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val out = SearchOps.hybridRrfTopK(spark, sf()).cache()

  test("score is exactly the integer RRF formula over the carried ranks") {
    val formula =
      when(col("text_rank") > 0,
        expr(s"${SearchOps.RrfScale} div (${SearchOps.RrfK} + text_rank)"))
        .otherwise(0L) +
      when(col("vec_rank") > 0,
        expr(s"${SearchOps.RrfScale} div (${SearchOps.RrfK} + vec_rank)"))
        .otherwise(0L)
    assert(out.filter(col("score") =!= formula).isEmpty)
    assert(out.filter(col("text_rank") === 0 && col("vec_rank") === 0)
      .isEmpty, "a fused row must come from at least one list")
  }

  test("both-lists dominance: at depth 10 with k=60, f(10)+f(10) > f(1), " +
      "so every doc on both lists outranks every single-list doc") {
    val perQuery = out
      .withColumn("both", col("text_rank") > 0 && col("vec_rank") > 0)
      .groupBy("query_id")
      .agg(
        max(when(col("both"), col("rank"))).as("worst_both"),
        min(when(!col("both"), col("rank"))).as("best_single"))
      .filter(col("worst_both").isNotNull && col("best_single").isNotNull)
    val bad = perQuery.filter(col("worst_both") >= col("best_single"))
    assert(bad.isEmpty, s"dominance violated: ${bad.take(3).mkString(";")}")
    // the fixture genuinely exercises the boost: some doc IS on both lists
    assert(out.filter(col("text_rank") > 0 && col("vec_rank") > 0)
      .count() > 0, "no overlap between lexical and dense lists — the " +
      "fusion never fires on this fixture")
  }

  test("rank shape: contiguous 1..n per query, n ≤ 10, non-increasing " +
      "score along rank with the doc_id tiebreak") {
    val shape = out.groupBy("query_id")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
      .filter(col("lo") =!= 1 || col("hi") =!= col("n") || col("n") > 10)
    assert(shape.isEmpty)
    val outOfOrder = out.as("a").join(out.as("b"),
      col("a.query_id") === col("b.query_id") &&
        col("a.rank") === col("b.rank") - 1)
      .filter(col("a.score") < col("b.score") ||
        (col("a.score") === col("b.score") &&
          col("a.doc_id") >= col("b.doc_id")))
    assert(outOfOrder.isEmpty)
  }

  test("carried ranks agree with the source rankings they fuse") {
    val text = SearchOps.docBm25TopK(spark, sf())
      .select(col("query_id"), col("doc_id"), col("rank").as("tr"))
    val mismatch = out.filter(col("text_rank") > 0)
      .join(text, Seq("query_id", "doc_id"), "left")
      .filter(col("tr").isNull || col("tr") =!= col("text_rank"))
    assert(mismatch.isEmpty, "text_rank must echo the BM25 ranking")
    val vec = TrainingOps.annTopK(spark, sf(), graft.operators.AnnIndex())
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vr"))
    val vMismatch = out.filter(col("vec_rank") > 0)
      .join(vec, Seq("query_id", "doc_id"), "left")
      .filter(col("vr").isNull || col("vr") =!= col("vec_rank"))
    assert(vMismatch.isEmpty, "vec_rank must echo the ANN ranking")
  }

  test("plan gate: no cartesian product anywhere in the fused plan") {
    val plan = castToImpl(SearchOps.hybridRrfTopK(spark, sf()))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }
}
