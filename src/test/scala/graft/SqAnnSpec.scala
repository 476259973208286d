package graft

import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, TrainingOps}

/** SQ8 scalar-quantized ANN laws: code range, the two-stage rank shape,
  * recall against the exact search (8 bits/dim must sit far above PQ's
  * 2 bits/dim), and the no-shuffle corpus-side plan.
  */
class SqAnnSpec extends SparkTestBase {
  import spark.implicits._

  private def sqTopK =
    TrainingOps.annTopK(spark, sf(), AnnIndex(code = AnnIndex.Sq8))
  private lazy val sq = sqTopK.cache()

  test("result shape: every query returns exactly k contiguous ranks " +
      "in strictly non-increasing dot order") {
    val k = TrainingOps.TopK
    val perQuery = sq.groupBy("query_id")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
    assert(perQuery.filter(
      col("n") =!= k || col("lo") =!= 1 || col("hi") =!= k).isEmpty)
    val outOfOrder = sq.as("a").join(sq.as("b"),
      col("a.query_id") === col("b.query_id") &&
        col("a.rank") === col("b.rank") - 1)
      .filter(col("a.dot") < col("b.dot"))
    assert(outOfOrder.isEmpty, "dot must be non-increasing in rank")
  }

  test("recall@10 vs exact search is high — the 8-bit code keeps " +
      "ordering fidelity coarse quantization (PQ) cannot") {
    val bf = TrainingOps.annTopK(spark, sf(), AnnIndex())
      .select("query_id", "neighbor_id")
    val total = bf.count()
    val hit = bf.join(sq.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id")).count()
    val recall = hit.toDouble / total
    assert(recall >= 0.8, s"SQ8 recall@10 = $recall, expected >= 0.8")
  }

  test("codes are valid 8-bit values spanning the affine range: every " +
      "component in [0, 255], with both extremes attained corpus-wide") {
    val e = TrainingOps.quantizedEmbeddings(spark, sf())
    val bounds = e.agg(
      min(array_min(col("q"))).as("gmin"),
      max(array_max(col("q"))).as("gmax"))
    val codes = e.crossJoin(broadcast(bounds))
      .select(explode(
        expr("transform(q, x -> (x - gmin) * 255L div (gmax - gmin))"))
        .as("c"))
    val Seq(lo, hi) = codes.agg(min("c"), max("c"))
      .as[(Long, Long)].collect().toSeq.flatMap(t => Seq(t._1, t._2))
    assert(lo == 0L && hi == 255L,
      s"affine code range should be exactly [0,255], got [$lo,$hi]")
    assert(codes.filter(col("c") < 0 || col("c") > 255).isEmpty)
  }

  test("plan gate: corpus never shuffles — queries broadcast into the " +
      "scored join and both rank stages reuse one exchange") {
    val plan = castToImpl(sqTopK)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"))
  }
}
