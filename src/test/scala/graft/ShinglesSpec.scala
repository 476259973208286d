package graft

import java.security.MessageDigest

import graft.operators.TrainingOps

/** Laws of the word-3-gram shingle kernel (TrainingOps.shinglesOf): a doc
  * of fewer than 3 tokens has no shingle, and each doc's rows are the
  * 60-bit md5 prefixes of its distinct trigrams, computed here on the JVM
  * rather than by the kernel's own `hash60`.
  */
class ShinglesSpec extends SparkTestBase {

  private def h60(s: String): Long = java.lang.Long.parseLong(
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15), 16)

  test("short docs have no shingles; repeated trigrams collapse to one row") {
    import spark.implicits._
    val docs = Seq(
      1L -> "", 2L -> "a", 3L -> "a b", 4L -> "a  b ",
      5L -> "a b c", 6L -> " x y z x y z ")
    val got = TrainingOps.shinglesOf(docs.toDF("doc_id", "text"))
      .as[(Long, Long)].collect()
    assert(got.length === got.distinct.length, "duplicate (doc_id, shh) rows")
    val expected = Map(
      5L -> Set("a b c"),
      // x y z, y z x, z x y, x y z: the repeat collapses
      6L -> Set("x y z", "y z x", "z x y"))
    assert(got.groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).toSet } ===
      expected.map { case (d, ts) => d -> ts.map(h60) })
  }
}
