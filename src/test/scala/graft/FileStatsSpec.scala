package graft

import org.apache.spark.sql.functions._

import graft.store.FrontierStore

/** Manifest file-stats pruning (the Iceberg data-skipping read path):
  * per-file source bounds harvested from parquet footers at commit time,
  * round-tripped through the manifest, and used to prune whole files at
  * planning time — with correctness never depending on the stats (the
  * predicate always applies; bounds are conservative by design).
  */
class FileStatsSpec extends SparkTestBase {
  import spark.implicits._

  private def emit(src: String, lo: Int, hi: Int) = spark.range(lo, hi)
    .select(concat(lit(s"https://$src.example.com/a/"),
      col("id").cast("string")).as("canonical_url"))
    .withColumn("source", lit(src))
    .withColumn("language", lit("und"))
  private def stat(src: String, n: Long) =
    Seq((src, n, 0L, 0L)).toDF("source", "new_articles", "skipped", "errors")

  private def freshStore(dir: String): FrontierStore = {
    new FrontierStore(dir).delete()
    new FrontierStore(dir, nSegments = 4, bloomItemsPerSegment = 256L).init()
  }

  test("delta commits record per-file source bounds in the manifest, " +
      "and they survive the JSON round trip") {
    val store = freshStore("target/test-store-fstats1")
    val m = store.commit(spark, emit("alpha", 0, 50), stat("alpha", 50L),
      fetchEpoch = 0L)
    assert(m.fileStats.nonEmpty, "commit recorded no file stats")
    assert(m.fileStats.forall(s =>
      s.minSource == "alpha" && s.maxSource == "alpha" && s.rows > 0))
    assert(m.fileStats.map(_.rows).sum == 50L)
    // reread from disk: the manifest reader restores the same stats
    val reread = store.manifest(m.snapshotId)
    assert(reread.fileStats == m.fileStats)
  }

  test("per-source pruned read ≡ full-scan filter, and ticks that never " +
      "crawled the source contribute ZERO file reads") {
    val store = freshStore("target/test-store-fstats2")
    store.commit(spark, emit("alpha", 0, 40), stat("alpha", 40L), 0L)
    store.commit(spark, emit("mike", 100, 130), stat("mike", 30L), 1L)
    store.commit(spark, emit("zulu", 200, 260), stat("zulu", 60L), 2L)
    for (src <- Seq("alpha", "mike", "zulu")) {
      val pruned = store.articlesForSource(spark, src)
        .select("canonical_url", "source").collect().map(_.toString).sorted
      val full = store.articles(spark).filter(col("source") === src)
        .select("canonical_url", "source").collect().map(_.toString).sorted
      assert(pruned.toSeq == full.toSeq, s"pruned read diverged for $src")
    }
    // planning-time evidence: only mike's tick's files are opened
    val (kept, total) = store.articleFilePruning("mike")
    val mikeFiles = store.manifest(1).fileStats.size.toLong
    assert(total > mikeFiles, "fixture needs multiple ticks of files")
    assert(kept == mikeFiles,
      s"expected exactly mike's $mikeFiles files kept, got $kept of $total")
    // a source no tick crawled prunes EVERYTHING and reads empty
    val (kept0, _) = store.articleFilePruning("foxtrot")
    assert(kept0 == 0L)
    assert(store.articlesForSource(spark, "foxtrot").count() == 0L)
  }

  test("bounds are conservative, never semantic: a mixed-source file is " +
      "kept for an absent value inside its range, and the predicate " +
      "still returns zero rows") {
    val store = freshStore("target/test-store-fstats3")
    store.commit(spark,
      emit("alpha", 0, 20).unionByName(emit("zulu", 50, 70)),
      stat("alpha", 20L).unionByName(stat("zulu", 20L)), 0L)
    val (kept, total) = store.articleFilePruning("mike")
    assert(kept > 0 && kept <= total,
      "a [alpha, zulu] file must be kept for mike — bounds are a range")
    assert(store.articlesForSource(spark, "mike").count() == 0L)
  }

  test("MISSING footer stats mean UNKNOWN, not absent: a file whose " +
      "recorded bounds are the \"\"/\"\" sentinel is KEPT and its rows " +
      "still read (r4 ADVICE #1 — the old range check silently skipped it)") {
    val store = freshStore("target/test-store-fstats5")
    val m = store.commit(spark, emit("alpha", 0, 40), stat("alpha", 40L), 0L)
    // simulate a footer with no usable source statistics (stats disabled,
    // oversized binary values dropped by parquet-mr, a stats-less chunk
    // mixed with real rows): blank the recorded bounds in the manifest —
    // the exact on-disk state collectFileStats records for that case
    val mp = java.nio.file.Paths.get(
      "target/test-store-fstats5", "snapshots",
      f"snap-${m.snapshotId}%05d.json")
    val blanked = java.nio.file.Files.readString(mp)
      .replace("\"min_source\": \"alpha\"", "\"min_source\": \"\"")
      .replace("\"max_source\": \"alpha\"", "\"max_source\": \"\"")
    java.nio.file.Files.writeString(mp, blanked)
    val reread = store.manifest(m.snapshotId)
    assert(reread.fileStats.forall(s =>
      s.minSource.isEmpty && s.maxSource.isEmpty))
    // unknown bounds keep every file: zero pruning, zero lost rows
    val (kept, total) = store.articleFilePruning("alpha")
    assert(kept == total, s"unknown bounds must keep all files ($kept/$total)")
    assert(store.articlesForSource(spark, "alpha").count() == 40L,
      "rows were lost to pruning on a stats-less file")
    // and an absent source still reads empty THROUGH the kept files
    // (predicate applies; stats only ever prune)
    assert(store.articlesForSource(spark, "mike").count() == 0L)
  }

  /** Commits 25 rows whose `source` is `hostile`, rereads the manifest from
    * disk, and checks that the FileStat bounds round-trip and still prune.
    */
  private def hostileSourceRoundTrip(dir: String, hostile: String): Unit = {
    val store = freshStore(dir)
    val m = store.commit(spark,
      spark.range(0, 25)
        .select(concat(lit("https://x.example.com/a/"),
          col("id").cast("string")).as("canonical_url"))
        .withColumn("source", lit(hostile))
        .withColumn("language", lit("und")),
      stat(hostile, 25L), 0L)
    assert(m.fileStats.nonEmpty)
    assert(m.fileStats.forall(s =>
      s.minSource == hostile && s.maxSource == hostile))
    // the manifest keeps one field per line: no raw control character
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "snapshots", "snap-00000.json"))
    assert(!text.exists(c => c < ' ' && c != '\n'),
      "a raw control character reached the manifest")
    // reread from disk through the escaped-string parser
    val reread = store.manifest(m.snapshotId)
    assert(reread.fileStats == m.fileStats,
      "escaped FileStat fields did not round-trip")
    // a later commit still parses the whole chain and prunes correctly
    store.commit(spark, emit("zulu", 100, 120), stat("zulu", 20L), 1L)
    assert(store.articlesForSource(spark, hostile).count() == 25L)
    val (kept, total) = store.articleFilePruning(hostile)
    assert(kept < total, "the zulu tick's files should prune away")
  }

  test("manifest JSON escapes user data in FileStat fields: a source " +
      "value with quotes, backslashes and brackets round-trips and the " +
      "chain stays parseable (r4 ADVICE #2)") {
    hostileSourceRoundTrip("target/test-store-fstats6", """al"p\h]a""")
  }

  test("manifest JSON escapes control characters: a source holding every " +
      "char U+0000–U+001F round-trips and still prunes and reads") {
    val controls = (0 until 0x20).map(_.toChar).mkString
    hostileSourceRoundTrip("target/test-store-fstats7",
      s"ctl[$controls]\u0085\u2028 end")
  }

  test("post-compaction: the baseline carries stats, equality holds, and " +
      "per-dt full-range files yield to row-group pruning (all kept)") {
    val store = freshStore("target/test-store-fstats4")
    store.commit(spark, emit("alpha", 0, 40), stat("alpha", 40L), 0L)
    store.commit(spark, emit("zulu", 200, 230), stat("zulu", 30L), 1L)
    val mc = store.compactArticles(spark)
    assert(mc.fileStats.nonEmpty, "compaction baseline recorded no stats")
    val pruned = store.articlesForSource(spark, "alpha")
      .select("canonical_url").collect().map(_.toString).sorted
    val full = store.articles(spark).filter(col("source") === "alpha")
      .select("canonical_url").collect().map(_.toString).sorted
    assert(pruned.toSeq == full.toSeq)
    val (kept, total) = store.articleFilePruning("alpha")
    assert(total == mc.fileStats.size.toLong,
      "post-compaction chain must be the baseline alone")
  }
}
