package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** KMV (k-minimum-values) distinct-cardinality sketch — the classical
  * bottom-k synopsis (Bar-Yossef et al. 2002; Beyer et al. 2007, "On
  * Synopses for Distinct Value Estimation Under Multiset Operations"):
  * keep the k smallest DISTINCT hash values seen; if the k-th smallest of
  * a uniform 60-bit hash is h_k, the stream held ≈ (k−1)·2^60/h_k
  * distinct values (standard error ≈ 1/√(k−2)).
  *
  * Why this over exact countDistinct at the 10^10-URL design point:
  * exact distinct shuffles every distinct key; the sketch shuffles ONE
  * k-long array per map partition (k=256 → 2 KiB) and merges by
  * bottom-k union — the estimator a frontier uses for its own telemetry
  * (how many distinct URLs crossed this tick) without paying a dedup.
  * The reference has no sketch (its scale never needs one: in-memory
  * set, utils/bigquery_client.py:115-120); this is the engine-side
  * operator that replaces `len(set)` once the set no longer fits.
  *
  * All integer math: the estimate is floor((k−1)·2^60 / h_k) computed in
  * BigInt, so the DuckDB oracle reproduces it exactly with HUGEINT
  * division. Duplicate-insensitive by construction (a TreeSet ignores
  * re-inserts), merge is commutative/associative/idempotent — the laws
  * KmvSpec pins.
  */
final class KmvSketch(val k: Int) extends Serializable {
  require(k >= 2, s"KMV needs k >= 2, got $k")
  private val mins = new java.util.TreeSet[java.lang.Long]()

  def add(h: Long): Unit = {
    if (mins.size < k) { mins.add(h); () }
    else if (h < mins.last) {
      if (mins.add(h)) { mins.pollLast(); () }
    }
  }

  def mergeInPlace(o: KmvSketch): KmvSketch = {
    val it = o.mins.iterator()
    while (it.hasNext) add(it.next())
    this
  }

  /** Ascending minima (size < k means the sketch IS the distinct set). */
  def values: Array[Long] = {
    val out = new Array[Long](mins.size)
    var i = 0
    val it = mins.iterator()
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  def estimate: Long =
    KmvSketch.estimateFrom(scala.collection.immutable.ArraySeq.unsafeWrapArray(values), k)
}

object KmvSketch {
  /** Hash space of graft's engine-portable 60-bit md5 hash. */
  val HashBits = 60

  /** floor((k−1)·2^60 / h_k); exact when fewer than k distinct values
    * were seen (the minima then ARE the distinct set).
    */
  def estimateFrom(minsAscending: Seq[Long], k: Int): Long =
    if (minsAscending.size < k) minsAscending.size.toLong
    else ((BigInt(k - 1) << HashBits) / BigInt(minsAscending.last)).toLong
}

/** [[KmvSketch]] as a typed Aggregator (`functions.udaf` → planned as a
  * TypedImperativeAggregate): partial sketches build map-side, only
  * k-long arrays cross the shuffle.
  */
final class KmvAggregator(k: Int)
    extends Aggregator[Long, KmvSketch, Array[Long]] {
  override def zero: KmvSketch = new KmvSketch(k)
  override def reduce(s: KmvSketch, h: Long): KmvSketch = { s.add(h); s }
  override def merge(a: KmvSketch, b: KmvSketch): KmvSketch = a.mergeInPlace(b)
  override def finish(s: KmvSketch): Array[Long] = s.values
  override def bufferEncoder: Encoder[KmvSketch] =
    Encoders.javaSerialization[KmvSketch]
  override def outputEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
}
