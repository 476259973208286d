package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalatest.funsuite.AnyFunSuite

import graft.store.FrontierStore
import graft.store.FrontierStore.{FileStat, Manifest, KindArticleCompaction,
  KindCompaction, KindDelta, KindRetraction}

/** Manifests already on disk keep reading the same. `legacy-store` holds
  * the text of one snapshot chain as the hand-written renderer wrote it —
  * a pre-dial root delta (no `bloom_items_per_segment`, `files_*` or
  * `file_stats` keys), a delta whose `file_stats` source carries `\u00XX`
  * escapes, a retraction, a compaction, a delta with error lineage, an
  * article compaction — and its `gc.json`. `legacy-store-unescaped`
  * holds one delta as the renderer wrote it before it escaped control
  * characters, so its `file_stats` sources carry a raw tab and a raw
  * U+0001. Every manifest must read back to the value that renderer's own
  * parser produced.
  */
class LegacyManifestSpec extends AnyFunSuite {

  private def copyFixture(dir: String,
      resource: String = "/legacy-store"): Path = {
    val fixture = Paths.get(getClass.getResource(resource).toURI)
    new FrontierStore(dir).delete()
    val root = Paths.get(dir)
    Files.walk(fixture).iterator().asScala.foreach { p =>
      val to = root.resolve(fixture.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    root
  }

  private val hostile =
    "ctl[" + (0 until 0x20).map(_.toChar).mkString + "]\u0085\u2028 \"q\\b] end"
  private def part(snap: Int, uuid: String) =
    s"data/articles/snap-$snap/dt=2025-01-01/part-00000-$uuid.c000.snappy.parquet"
  private def delta(id: Int) =
    (Some(s"data/articles/snap-$id"), Some(s"data/seen/snap-$id"),
      Some(s"data/bloom/snap-$id"))

  private val expected: Seq[Manifest] = {
    val (a0, s0, b0) = delta(0)
    val (a1, s1, b1) = delta(1)
    val (a4, s4, b4) = delta(4)
    Seq(
      // the pre-dial root: its missing keys take their defaults
      Manifest(0, -1, KindDelta, 0L, 0L, a0, s0, b0, None,
        Map(0 -> 10L, 1 -> 5L, 2 -> 9L, 3 -> 6L), 30L, 0L, 1L),
      Manifest(1, 0, KindDelta, 1L, 256L, a1, s1, b1, None,
        Map(0 -> 8L, 1 -> 3L, 2 -> 7L, 3 -> 7L), 25L, 0L, 1L,
        fileStats = Seq(FileStat(part(1, "fbf272ad-c772-4000-8c0c-b57386a5e540"),
          hostile, hostile, 25L))),
      Manifest(2, 1, KindRetraction, 1L, 256L, None, Some("data/seen/snap-2"),
        None, None, Map(0 -> 1L, 3 -> 1L), 0L, 0L, 0L),
      Manifest(3, 2, KindCompaction, 1L, 256L, None, Some("data/seen/snap-3"),
        Some("data/bloom/snap-3"), None,
        Map(0 -> 17L, 1 -> 8L, 2 -> 16L, 3 -> 12L), 0L, 0L, 0L),
      Manifest(4, 3, KindDelta, 2L, 256L, a4, s4, b4, Some("data/errors/snap-4"),
        Map(0 -> 6L, 1 -> 3L, 2 -> 7L, 3 -> 4L), 20L, 0L, 1L,
        fileStats = Seq(FileStat(part(4, "f252f510-d580-45a5-891d-726a3ca8ba03"),
          "zulu", "zulu", 20L))),
      Manifest(5, 4, KindArticleCompaction, 2L, 256L,
        Some("data/articles/snap-5"), None, None, None, Map.empty, 0L, 0L, 0L,
        filesRewritten = 3L, filesAdded = 1L,
        fileStats = Seq(FileStat(part(5, "38ada62d-023a-404f-b7f1-0888db7c4f7d"),
          "alpha", "zulu", 75L))))
  }

  test("legacy manifests read back field by field, and the chain walks, " +
      "file pruning and GC horizon over them hold") {
    val dir = "target/test-store-legacy"
    val root = copyFixture(dir)
    // the stats-less root's data dir: pruning counts its files instead
    Seq("part-00000.parquet", "part-00001.parquet").foreach { f =>
      val p = root.resolve("data/articles/snap-0/dt=2025-01-01").resolve(f)
      Files.createDirectories(p.getParent)
      Files.createFile(p)
    }
    val store = new FrontierStore(dir, nSegments = 4, bloomItemsPerSegment = 256L)
    assert(store.snapshotIds() === (0 to 5))
    expected.foreach { exp =>
      val got = store.manifest(exp.snapshotId)
      got.productElementNames.zip(got.productIterator.zip(exp.productIterator))
        .foreach { case (field, (g, e)) =>
          assert(g == e, s"snapshot ${exp.snapshotId} field $field")
        }
    }
    assert(store.chain(5).map(_.snapshotId) === (0 to 5))
    assert(store.seenChain(5).map(_.snapshotId) === Seq(3, 4, 5))
    assert(store.seenChain(2).map(_.snapshotId) === Seq(0, 1, 2))
    assert(store.articleChain(5).map(_.snapshotId) === Seq(5))
    assert(store.articleChain(4).map(_.snapshotId) === (0 to 4))
    assert(store.gcHorizon() === 3)
    // latest: the article baseline alone, bounds alpha..zulu
    assert(store.articleFilePruning("alpha") === ((1L, 1L)))
    assert(store.articleFilePruning("zz") === ((0L, 1L)))
    // as of 4: snap-0's two unstatted files are kept, snap-1's escaped
    // bounds prune for every source but their own, snap-4 is zulu only
    assert(store.articleFilePruning("alpha", Some(4)) === ((2L, 4L)))
    assert(store.articleFilePruning(hostile, Some(4)) === ((3L, 4L)))
    assert(store.articleFilePruning("zulu", Some(4)) === ((3L, 4L)))
    intercept[IllegalArgumentException] { store.articleFilePruning("alpha", Some(2)) }
  }

  test("a manifest missing a required key, or a gc.json without a " +
      "horizon, throws IllegalStateException") {
    val json = new ObjectMapper()
    val dir = "target/test-store-legacy-keys"
    val root = copyFixture(dir)
    val store = new FrontierStore(dir)
    val snap = root.resolve("snapshots/snap-00004.json")
    val original = Files.readString(snap)
    def without(key: String, inMetrics: Boolean): Unit = {
      val t = json.readTree(original).asInstanceOf[ObjectNode]
      (if (inMetrics) t.get("metrics").asInstanceOf[ObjectNode] else t).remove(key)
      Files.writeString(snap, json.writeValueAsString(t))
    }
    val keys = Seq("snapshot_id", "parent_id", "fetch_epoch").map(_ -> false) ++
      Seq("new_articles", "skipped", "errors").map(_ -> true)
    keys.foreach { case (key, inMetrics) =>
      without(key, inMetrics)
      val e = intercept[IllegalStateException] { store.manifest(4) }
      assert(e.getMessage === s"manifest missing $key")
    }
    // an absent kind still defaults to a delta
    without("kind", inMetrics = false)
    assert(store.manifest(4) === expected(4))
    Files.writeString(root.resolve("gc.json"), """{"retain_from": 3}""")
    intercept[IllegalStateException] { store.gcHorizon() }
  }

  test("a manifest written before control characters were escaped reads " +
      "its raw tab and U+0001 back") {
    val dir = "target/test-store-legacy-unescaped"
    copyFixture(dir, "/legacy-store-unescaped")
    val store = new FrontierStore(dir, nSegments = 4, bloomItemsPerSegment = 256L)
    val (lo, hi) = ("tab\there\u0001 \"q\\b\nx", "zeta\u0001\tend")
    val (a0, s0, b0) = delta(0)
    val exp = Manifest(0, -1, KindDelta, 0L, 256L, a0, s0, b0, None,
      Map(0 -> 3L, 1 -> 2L), 5L, 0L, 0L,
      fileStats = Seq(FileStat(part(0, "5b0c1f3e-9d2a-4c61-a7e8-3f4d2b1c0a99"),
        lo, hi, 5L)))
    val got = store.manifest(0)
    got.productElementNames.zip(got.productIterator.zip(exp.productIterator))
      .foreach { case (field, (g, e)) => assert(g == e, s"field $field") }
    assert(store.chain(0) === Seq(exp))
    assert(store.articleFilePruning(lo) === ((1L, 1L)))
    assert(store.articleFilePruning("zz") === ((0L, 1L)))
  }
}
