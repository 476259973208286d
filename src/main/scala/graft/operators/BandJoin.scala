package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The band join behind every near-duplicate family, and the exact
  * Jaccard verify behind the MinHash ones: a cheap prefilter (items that
  * share a band key are candidates) and then an exact confirm on the
  * candidates only.
  *
  * A banded frame has one row per (item, band): the item's id, any payload
  * columns, `band` and that band's key `band_val`. Every join here is an
  * equi-join on (band, band_val), so it shuffles on bounded, uniform keys
  * and never forms an all-pairs product (the PlanQualitySpec no-cartesian
  * gates).
  */
private[graft] object BandJoin {

  /** One row per band of an `nBands × bandBits`-bit print column: `band`
    * in 0 until nBands and `band_val`, that band's bits.
    */
  def bands(df: DataFrame, print: String, nBands: Int, bandBits: Int)
      : DataFrame =
    df.withColumn("band", explode(sequence(lit(0), lit(nBands - 1))))
      .withColumn("band_val", expr(s"shiftright($print, " +
        s"CAST(band * $bandBits AS INT)) & ${(1 << bandBits) - 1}"))

  /** Self-join: each distinct pair of ids that share a band key, as
    * (`a`, `b`, and every payload column c as c_a and c_b), with a < b.
    *
    * Hot-bucket guard: a bucket of s rows yields s(s−1)/2 pairs, so buckets
    * over `maxBucketSize` rows are left out of the join and their row mass
    * is logged, since a silent cap would read as full coverage. At the
    * default no bucket can exceed the cap, and the guard's count job is
    * skipped.
    */
  def selfJoin(banded: DataFrame, id: String, a: String, b: String,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val cool =
      if (maxBucketSize == Long.MaxValue) banded
      else withoutHotBuckets(banded, maxBucketSize)
    val payload = banded.columns.toSeq.filterNot(Set(id, "band", "band_val"))
    def side(s: String, as: String) = cool.select(
      Seq(col("band").as(s"__band_$s"), col("band_val").as(s"__val_$s"),
        col(id).as(as)) ++ payload.map(c => col(c).as(s"${c}_$s")): _*)
    side("a", a).join(side("b", b), col("__band_a") === col("__band_b") &&
        col("__val_a") === col("__val_b") && col(a) < col(b))
      .select((Seq(a, b) ++ payload.flatMap(c => Seq(s"${c}_a", s"${c}_b")))
        .map(col): _*)
      .distinct()
  }

  private def withoutHotBuckets(banded: DataFrame, maxBucketSize: Long)
      : DataFrame = {
    val hot = banded.groupBy("band", "band_val")
      .agg(count(lit(1)).as("__sz"))
      .filter(col("__sz") > maxBucketSize)
    val nHot = hot.agg(coalesce(sum("__sz"), lit(0L))).collect()(0).getLong(0)
    if (nHot > 0)
      System.err.println(
        s"[graft] LSH hot-bucket guard: dropped $nHot signature rows in " +
          s"buckets over $maxBucketSize; pairs within them are not generated")
    banded.join(hot.select("band", "band_val"), Seq("band", "band_val"),
      "left_anti")
  }

  /** Query-side multi-probe: each band value plus its first `probes` − 1
    * Hamming-1 flips (flip f toggles bit f − 1). The corpus side keeps one
    * row per band, so probing costs probe count × lookups and never a
    * corpus rescan.
    */
  def multiProbe(queries: DataFrame, probes: Int, bandBits: Int): DataFrame = {
    require(probes >= 1 && probes <= bandBits + 1,
      s"probesPerBand must be in 1..${bandBits + 1} (exact + up to " +
        s"$bandBits Hamming-1 flips of a $bandBits-bit band), got $probes")
    queries.withColumn("__flip", explode(sequence(lit(0), lit(probes - 1))))
      .withColumn("band_val",
        expr("CAST(band_val ^ (CASE WHEN __flip = 0 THEN 0 " +
          "ELSE shiftleft(1, CAST(__flip - 1 AS INT)) END) AS BIGINT)"))
      .drop("__flip")
  }

  /** Query × corpus join: each (`qid`, `cid`) pair that shares a band key,
    * once, with both sides' payload columns. `gate` sets the query side's
    * join strategy ([[sizeGate]]); by default the planner picks it.
    */
  def probe(queries: DataFrame, corpus: DataFrame, qid: String, cid: String,
      gate: DataFrame => DataFrame = identity): DataFrame =
    gate(queries)
      .join(corpus.withColumnRenamed("band", "__band_c")
          .withColumnRenamed("band_val", "__val_c"),
        col("band") === col("__band_c") && col("band_val") === col("__val_c"))
      .drop("band", "band_val", "__band_c", "__val_c")
      .dropDuplicates(qid, cid)

  /** Size dispatch for a small join side: at most `maxBroadcastBytes`
    * (estimated) it broadcasts into the other side's scan, which then never
    * shuffles; above, the join shuffle-hashes on its key, with no
    * driver-side build.
    */
  def sizeGate(bytes: Long, maxBroadcastBytes: Long): DataFrame => DataFrame =
    if (bytes <= maxBroadcastBytes) broadcast(_) else _.hint("shuffle_hash")

  /** Exact shingle Jaccard of candidate pairs (`a`, `b`), whose ids draw
    * their distinct (doc_id, shh) shingles from `shA` and `shB`: adds
    * `inter`, `size_a`, `size_b` and `is_dup` at Jaccard ≥ 0.6, in integers
    * as inter·10 ≥ (size_a + size_b − inter)·6. Only the candidates'
    * shingles join, keyed by doc id; a pair that shares none has inter 0.
    */
  def jaccard(pairs: DataFrame, a: String, b: String, shA: DataFrame,
      shB: DataFrame): DataFrame = {
    def shingles(sh: DataFrame, id: String) =
      sh.select(col("doc_id").as(id), col("shh"))
    def sizes(sh: DataFrame, id: String, size: String) =
      sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        .select(col("doc_id").as(id), col("sz").as(size))
    val inter = pairs.join(shingles(shA, a), Seq(a))
      .join(shingles(shB, b), Seq(b, "shh"))
      .groupBy(a, b).agg(count(lit(1)).as("inter"))
    pairs.join(inter, Seq(a, b), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .join(sizes(shA, a, "size_a"), Seq(a))
      .join(sizes(shB, b, "size_b"), Seq(b))
      .select(col(a), col(b), col("inter"), col("size_a"), col("size_b"),
        (col("inter") * 10 >= (col("size_a") + col("size_b") - col("inter")) * 6)
          .as("is_dup"))
  }
}
