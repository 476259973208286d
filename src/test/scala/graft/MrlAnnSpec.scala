package graft

import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, TrainingOps}

/** MRL prefix-then-refine retrieval laws: shortlist containment, the
  * refine-never-loses property, the recall ordering vs coarse-only
  * ranking, and the broadcast plan shape.
  */
class MrlAnnSpec extends SparkTestBase {

  private def mrlTopK = TrainingOps.annTopK(spark, sf(), AnnIndex(
    code = AnnIndex.Prefix, rerank = Some(TrainingOps.MrlShortlistR)))
  private lazy val mrl = mrlTopK.cache()
  private lazy val bf = TrainingOps.annTopK(spark, sf(), AnnIndex())
    .select("query_id", "neighbor_id").cache()

  /** The coarse stage replayed standalone: prefix-dim ranking. */
  private def coarseTopK(k: Int) = {
    val e = TrainingOps.quantizedEmbeddings(spark, sf())
      .withColumn("p", expr(s"slice(q, 1, ${TrainingOps.MrlPrefixDims})"))
    val queries = broadcast(e.filter(col("vec_id") < TrainingOps.NQueryVecs)
      .select(col("vec_id").as("query_id"), col("p").as("qp")))
    val corpus = e.filter(col("vec_id") >= TrainingOps.NQueryVecs)
      .select(col("vec_id").as("neighbor_id"), col("p").as("np"))
    TrainingOps.topKPerQuery(
      queries.join(corpus)
        .withColumn("dot", TrainingOps.intDot(col("qp"), col("np"))), k)
  }

  test("result shape: k contiguous ranks per query, dots non-increasing") {
    val k = TrainingOps.TopK
    val shape = mrl.groupBy("query_id")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
      .filter(col("n") =!= k || col("lo") =!= 1 || col("hi") =!= k)
    assert(shape.isEmpty)
  }

  test("shortlist containment: every returned neighbor came through the " +
      "coarse prefix shortlist — refine re-scores, never widens") {
    val shortlist = coarseTopK(TrainingOps.MrlShortlistR)
      .select("query_id", "neighbor_id")
    val escaped = mrl.select("query_id", "neighbor_id")
      .join(shortlist, Seq("query_id", "neighbor_id"), "left_anti")
    assert(escaped.isEmpty,
      s"rows outside the shortlist: ${escaped.take(3).mkString(";")}")
  }

  test("refine never loses: a brute-force top-k item inside the " +
      "shortlist always survives to the final top-k (at most k-1 rows " +
      "outrank it in ANY subset under the exact order)") {
    val shortlist = coarseTopK(TrainingOps.MrlShortlistR)
      .select("query_id", "neighbor_id")
    val due = bf.join(shortlist, Seq("query_id", "neighbor_id"))
    val lost = due.join(mrl.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_anti")
    assert(lost.isEmpty, s"refine lost: ${lost.take(3).mkString(";")}")
  }

  test("recall ordering: full-dim refine recall ≥ coarse-only recall at " +
      "the same k (the prefix pass alone is the floor)") {
    val total = bf.count().toDouble
    val mrlHit = bf.join(mrl.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id")).count()
    val coarseHit = bf.join(
      coarseTopK(TrainingOps.TopK).select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id")).count()
    assert(mrlHit >= coarseHit,
      s"refine must not lose recall: $mrlHit vs $coarseHit of $total")
  }

  test("plan gate: queries and shortlist broadcast; no sort-merge join, " +
      "no cartesian") {
    val plan = castToImpl(mrlTopK)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"))
  }
}
