package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.store.FrontierStore

/** Every stdout line FrontierMain prints is one JSON object: each kind
  * parses, and carries its keys and values.
  */
class FrontierMainLinesSpec extends AnyFunSuite {

  private val store = new FrontierStore("target/test-store-lines")
  private val m = FrontierStore.Manifest(7, 6, FrontierStore.KindDelta, 3L,
    100000L, Some("data/articles/snap-7"), Some("data/seen/snap-7"),
    Some("data/bloom/snap-7"), None, Map(0 -> 2L, 5 -> 3L), 11L, 4L, 1L,
    filesRewritten = 9L, filesAdded = 2L)

  private def parse(line: String) = {
    assert(!line.contains('\n'), s"not one line: $line")
    Bench.Json.readTree(line)
  }

  test("tick line: counters, probe, optional invariant count, sec") {
    val t = parse(FrontierMain.tickLine(3, m, None, 1.234))
    assert(t.get("tick").asInt === 3 && t.get("snapshot").asInt === 7)
    assert(t.get("new_articles").asLong === 11L && t.get("skipped").asLong === 4L &&
      t.get("errors").asLong === 1L && t.get("segments").asInt === 2)
    // every tick probes the store's blooms: no per-line probe key
    assert(!t.has("probe"))
    assert(!t.has("invariant_violations"))
    assert(t.get("sec").isNumber && t.get("sec").decimalValue ===
      new java.math.BigDecimal("1.23"))
    val checked = parse(FrontierMain.tickLine(3, m, Some(5L), 0.0))
    assert(checked.get("invariant_violations").asLong === 5L)
  }

  test("recrawl, compaction, article compaction, expiry and orphan-sweep lines") {
    val r = parse(FrontierMain.recrawlLine(4, m))
    assert(r.get("recrawl_at_tick").asInt === 4 && r.get("snapshot").asInt === 7 &&
      r.get("retracted").asLong === 5L)
    val c = parse(FrontierMain.compactionLine(m))
    assert(c.get("compaction").asInt === 7 && c.get("folded_deltas").asBoolean)
    val a = parse(FrontierMain.articleCompactionLine(m))
    assert(a.get("article_compaction").asInt === 7 &&
      a.get("files_rewritten").asLong === 9L && a.get("files_added").asLong === 2L)
    val e = parse(FrontierMain.expiryLine(5, store.ExpireStats(6, 3, 12L, 4096L)))
    assert(e.get("expire_at_tick").asInt === 5 && e.get("horizon").asInt === 6 &&
      e.get("data_dirs_deleted").asInt === 3 && e.get("files_deleted").asLong === 12L &&
      e.get("bytes_freed").asLong === 4096L)
    val o = parse(FrontierMain.orphanSweepLine(store.OrphanStats(2, 8L, 1024L, 1)))
    assert(o.get("orphan_sweep").asBoolean && o.get("dirs_deleted").asInt === 2 &&
      o.get("files_deleted").asLong === 8L && o.get("bytes_freed").asLong === 1024L &&
      o.get("skipped_recent").asInt === 1)
  }
}
