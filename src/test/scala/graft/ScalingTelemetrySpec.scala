package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scaling record's self-adjudication plumbing (r3 verdict #1, r4
  * run-level refinement): the child's per-run telemetry lines must parse
  * back into samples, the quiet predicate must match the published noise
  * bounds, and samples that carry no telemetry must stay conservative:
  * quiet is a POSITIVE claim, so missing evidence ⇒ quiet=false and the
  * record adjudicates itself invalid with the no-evidence reason (on top
  * of the separate unpinned-fallback reason — Bench.main's `reasons`).
  */
class ScalingTelemetrySpec extends AnyFunSuite {

  private val childOut =
    """26/08/18 some spark log noise
      |{"metric":"scaling_run","cpus":1,"run":1,"sec":76.301,"steal_frac":0.0003,"external_busy_frac":0.0004}
      |[scaling] prose line that must not confuse the parser
      |{"metric":"scaling_run","cpus":1,"run":2,"sec":72.650,"steal_frac":0.0900,"external_busy_frac":0.0100}
      |{"metric":"scaling_run","cpus":1,"run":3,"sec":71.980,"steal_frac":null,"external_busy_frac":null}
      |{"metric":"scaling_arm","cpus":1,"sec":71.98,"frontier_n":8000000,"urls_per_sec":111141}
      |""".stripMargin

  test("parseRuns: one sample per timed run, noise fields and nulls intact") {
    val runs = Bench.parseRuns(childOut, cores = 1, round = 2)
    assert(runs.map(_.run) === Seq(1, 2, 3))
    assert(runs.forall(s => s.cores == 1 && s.round == 2 && s.sec.isDefined))
    assert(runs(0).sec.get === 76.301 && runs(0).stealFrac === Some(0.0003))
    assert(runs(2).stealFrac === None && runs(2).externalBusyFrac === None)
    // cross-arm leakage guard: asking for a different core count parses none
    assert(Bench.parseRuns(childOut, cores = 4, round = 1).isEmpty)
    // the legacy whole-child line alone yields no per-run samples → the
    // caller's run-0 fallback path is what covers old-protocol output
    assert(Bench.parseRuns(
      """{"metric":"scaling_arm","cpus":1,"sec":71.98}""", 1, 1).isEmpty)
  }

  test("quiet predicate enforces the published bounds, one-sided per field") {
    def s(steal: Option[Double], external: Option[Double]) =
      Bench.ArmSample(1, 1, 1, Some(10.0), steal, external)
    assert(s(Some(Bench.MaxStealFrac), Some(Bench.MaxExternalBusyFrac)).quiet)
    assert(!s(Some(Bench.MaxStealFrac + 1e-4), Some(0.0)).quiet)
    assert(!s(Some(0.0), Some(Bench.MaxExternalBusyFrac + 1e-4)).quiet)
    // missing evidence DISQUALIFIES the sample: quiet is a positive claim
    // used to elect + corroborate minima, and a pinned arm on a box with an
    // unreadable /proc/stat would otherwise self-adjudicate "valid" with
    // zero noise evidence (the record-level unpinned-fallback reason does
    // not cover that case)
    assert(!s(None, None).quiet)
    assert(!s(Some(0.0), None).quiet)
    assert(!s(None, Some(0.0)).quiet)
    // run 3's null telemetry fields now read not-quiet too
    val parsed = Bench.parseRuns(childOut, 1, 1)
    assert(parsed.map(_.quiet) === Seq(true, false, false))
  }

  private def smp(cores: Int, sec: Double, quiet: Boolean = true) =
    Bench.ArmSample(cores, 1, 1, Some(sec),
      Some(if (quiet) 0.001 else 0.2), Some(if (quiet) 0.01 else 0.5))

  test("adjudication: DRAM-contended 'quiet' runs are caught by the " +
      "corroboration rule") {
    // The observed false-valid record (bench run concurrent with a 4-core
    // Spark job on the same box): /proc/stat fractions stayed under the
    // bounds while memory-bandwidth contention inflated the pinned arms
    // 4-20x and non-repeatably — efficiency read 0.243 "valid" before the
    // corroboration rule. Exact seconds from that run.
    val observed = Seq(
      smp(1, 82.375), smp(1, 58.639), smp(1, 26.16),
      smp(4, 70.288, quiet = false), smp(4, 57.366, quiet = false),
      smp(4, 102.204),
      smp(1, 57.25), smp(1, 56.551), smp(1, 19.523),
      smp(4, 110.284), smp(4, 20.091), smp(4, 74.018))
    val eff = 19.523 / (4 * 20.091)
    val reasons = Bench.adjudicationReasons(Seq(1, 4), eff, pinned = true,
      samples = observed)
    assert(reasons.exists(_.contains("uncorroborated 1-core")))
    assert(reasons.exists(_.contains("uncorroborated 4-core")))
    assert(!Bench.corroborated(observed, 1) && !Bench.corroborated(observed, 4))
    // a genuinely quiet record (the committed r4 builder seconds, ±3%
    // spread) passes every check
    val quietRec = Seq(smp(1, 76.3), smp(1, 72.7), smp(1, 72.1), smp(1, 72.0),
      smp(4, 18.4), smp(4, 18.3), smp(4, 18.35), smp(4, 18.6))
    assert(Bench.adjudicationReasons(Seq(1, 4), 72.0 / (4 * 18.3), pinned = true,
      samples = quietRec).isEmpty)
    // superlinear stays invalid even when corroborated
    assert(Bench.adjudicationReasons(Seq(1, 4), 1.03, pinned = true,
      samples = quietRec).exists(_.contains("superlinear")))
    // unpinned fallback stays invalid
    assert(Bench.adjudicationReasons(Seq(1, 4), 0.8, pinned = false,
      samples = quietRec).exists(_.contains("unpinned")))
    // an arm with NO quiet run elects a noisy minimum → noise reason, not
    // the corroboration reason
    val noisyArm = quietRec.filter(_.cores == 1) ++
      Seq(smp(4, 30.0, quiet = false), smp(4, 31.0, quiet = false))
    val rs = Bench.adjudicationReasons(Seq(1, 4), 72.0 / (4 * 30.0),
      pinned = true, samples = noisyArm)
    assert(rs.exists(_.contains("4-core sample under host noise")))
    assert(!rs.exists(_.contains("uncorroborated")))
    // pinned arms on a box with an UNREADABLE /proc/stat (every noise field
    // None) must not read valid: no sample is quiet, so the elected minima
    // carry the no-evidence reason
    val blind = Seq(
      Bench.ArmSample(1, 1, 1, Some(72.0), None, None),
      Bench.ArmSample(1, 1, 2, Some(72.5), None, None),
      Bench.ArmSample(4, 1, 1, Some(18.3), None, None),
      Bench.ArmSample(4, 1, 2, Some(18.4), None, None))
    val blindReasons = Bench.adjudicationReasons(Seq(1, 4), 72.0 / (4 * 18.3),
      pinned = true, samples = blind)
    assert(blindReasons.exists(_.contains("no noise evidence")))
  }

  test("election: a lone fast outlier inside the band neither inflates " +
      "the claim nor invalidates the record — the fastest CORROBORATED " +
      "run is elected (observed probe seconds)") {
    // Observed: an otherwise-tight 4-core pool whose raw minimum sat
    // 4.7% below its nearest sibling — under raw-minimum election the
    // whole record self-invalidated; the repeatable 17.597 is the claim
    val observed = Seq(
      smp(1, 61.152), smp(1, 58.277), smp(1, 58.775),
      smp(4, 20.05), smp(4, 24.21), smp(4, 17.597), smp(4, 17.759),
      smp(4, 16.814))
    assert(Bench.corroboratedMin(observed, 1).contains(58.277))
    assert(Bench.corroboratedMin(observed, 4).contains(17.597))
    val eff = 58.277 / (4 * 17.597)
    assert(Bench.adjudicationReasons(Seq(1, 4), eff, pinned = true,
      samples = observed).isEmpty)
    // ...but a corroborated pair BEYOND the outlier band (multi-modal
    // arm: the bouncing-host regime) must not rescue the record
    val bouncing = Seq(
      smp(1, 66.214), smp(1, 78.924), smp(1, 80.479),
      smp(4, 25.118), smp(4, 25.637))
    assert(Bench.corroboratedMin(bouncing, 1).isEmpty,
      "78.9 corroborates at 2% but sits 19% above the fastest run — " +
        "outside the band")
    assert(Bench.adjudicationReasons(Seq(1, 4), 0.66, pinned = true,
      samples = bouncing).exists(_.contains("uncorroborated 1-core")))
  }

  test("adjudication: steady asymmetric DRAM contention — minima that " +
      "corroborate at 7.6% but not at the measured ±3% — reads invalid") {
    // Observed (full bench on a contended evening, every sample 'quiet' by
    // cpu fractions): 1-core arm bounced 66-161 s, 4-core arm 25-154 s;
    // the chosen minima corroborated under a 10% window and the record
    // read efficiency 0.659 "valid" where the same build measures 0.983
    // quiet. Exact seconds from that run — the case that sized
    // CorroborationTol to the measured quiet-repeatability (±3%).
    val observed = Seq(
      smp(1, 101.404), smp(1, 110.913), smp(1, 143.148),
      smp(4, 70.067), smp(4, 141.979), smp(4, 29.408),
      smp(1, 124.734), smp(1, 94.375), smp(1, 118.663),
      smp(4, 154.092), smp(4, 39.208), smp(4, 34.651),
      smp(1, 80.479), smp(1, 78.924), smp(1, 87.151),
      smp(4, 81.016), smp(4, 25.637), smp(4, 28.687),
      smp(1, 160.532), smp(1, 71.237), smp(1, 66.214),
      smp(4, 39.908), smp(4, 106.918), smp(4, 25.118))
    val eff = 66.214 / (4 * 25.118)
    val reasons = Bench.adjudicationReasons(Seq(1, 4), eff, pinned = true,
      samples = observed)
    // 1-core: 66.214 vs 71.237 = 7.6% apart → uncorroborated at 3%
    assert(reasons.exists(_.contains("uncorroborated 1-core")))
    // 4-core: 25.118 vs 25.637 = 2.1% → corroborated — but one
    // uncorroborated arm is enough to invalidate the record
    assert(Bench.corroborated(observed, 4))
    assert(reasons.nonEmpty)
  }

  test("sample json round-trips through the parser (the record is re-readable)") {
    val orig = Bench.parseRuns(childOut, 1, 3)
    // ArmSample.json adds the adjudicated "quiet" field and a "round";
    // the scaling_run wire format is a strict subset — rebuild it and
    // confirm the parse is loss-free over the shared fields
    val rewired = orig.map { a =>
      s"""{"metric":"scaling_run","cpus":${a.cores},"run":${a.run},""" +
        s""""sec":${a.sec.get},""" +
        s""""steal_frac":${a.stealFrac.map(_.toString).getOrElse("null")},""" +
        s""""external_busy_frac":${a.externalBusyFrac.map(_.toString).getOrElse("null")}}"""
    }.mkString("\n")
    assert(Bench.parseRuns(rewired, 1, 3) === orig)
  }

  test("an arm holding every cpu of the box, with no foreign load, reads " +
      "quiet, and the 1->4 record valid") {
    // a 4-cpu /proc/stat pair over a 10 s run: every cpu 1000 jiffies busy
    // (all of it the pinned 4-core child's own cpu time), no steal
    def stat(busy: Int => Long) = (0 until 4).map(c =>
      c -> Array[Long](busy(c), 0, 0, 1000 - busy(c), 0, 0, 0, 0)).toMap
    val zero = (0 until 4).map(_ -> Array.fill(8)(0L)).toMap
    val wall = 10.0
    def ownNs(cpus: Int) = (cpus * wall * 1e9).toLong
    val all = Bench.armNoise(Some(zero), Some(stat(_ => 1000L)), 0L,
      ownNs(4), wall)
    assert(all.stealFrac.contains(0.0) && all.externalBusyFrac.exists(_ < 1e-9))
    // the 1-core arm on the same box: its own cpu busy, the other three idle
    val one = Bench.armNoise(Some(zero), Some(stat(c => if (c == 3) 1000L
      else 0L)), 0L, ownNs(1), wall)
    assert(one.externalBusyFrac.exists(_ < 1e-9))
    // each run goes out on the child's line and back through the parent
    def runs(cores: Int, noise: Bench.BenchNoise, secs: Double*) =
      secs.zipWithIndex.flatMap { case (sec, i) => Bench.parseRuns(
        ScalingBench.runLine(cores, i + 1, sec, noise.stealFrac,
          noise.externalBusyFrac), cores, 1) }
    val samples = runs(1, one, 60.0, 60.5) ++ runs(4, all, 17.0, 17.2)
    assert(samples.size === 4 && samples.forall(_.quiet))
    val rec = Bench.Json.readTree(Bench.renderScalingRecord(Seq(1, 4),
      2000000L, Seq(60.0, 17.0), pinned = true, samples))
    assert(rec.get("valid").asBoolean(), rec.get("invalid_reason").asText())
    // a foreign process keeping a second cpu busy beside the 1-core arm
    // is 25% of the box: not quiet
    val loaded = Bench.armNoise(Some(zero), Some(stat(c => if (c >= 2) 1000L
      else 0L)), 0L, ownNs(1), wall)
    assert(loaded.externalBusyFrac.exists(e => math.abs(e - 0.25) < 1e-9))
    assert(!Bench.ArmSample(1, 1, 1, Some(60.0), loaded.stealFrac,
      loaded.externalBusyFrac).quiet)
  }

  test("benchNoise: suite-phase bracket separates external busy from own " +
      "cpu; degrades to nulls without /proc/stat") {
    // two cpus, per-cpu deltas (user 300, nice 0, system 100, idle 400,
    // iowait 0, irq 0, softirq 0, steal 10): total 810, idle 400, steal 10
    val before = Map(
      0 -> Array[Long](100, 0, 100, 800, 0, 0, 0, 0),
      1 -> Array[Long](100, 0, 100, 800, 0, 0, 0, 0))
    val after = Map(
      0 -> Array[Long](400, 0, 200, 1200, 0, 0, 0, 10),
      1 -> Array[Long](400, 0, 200, 1200, 0, 0, 0, 10))
    val wall = 10.0
    val nCpus = Runtime.getRuntime.availableProcessors
    // own cpu chosen to be exactly 25% of the machine over the bracket
    val own1 = (0.25 * nCpus * wall * 1e9).toLong
    val n = Bench.benchNoise(Some(before), Some(after), 0L, own1, wall)
    assert(n.stealFrac.exists(s => math.abs(s - 10.0 / 810) < 1e-9))
    val busy = (810.0 - 400) / 810
    assert(n.busyFrac.exists(b => math.abs(b - busy) < 1e-9))
    assert(math.abs(n.ownCpuFrac - 0.25) < 1e-9)
    assert(n.externalBusyFrac.exists(e => math.abs(e - (busy - 0.25)) < 1e-9))
    // own cpu exceeding measured busy (clock skew) clamps at zero
    val full = Bench.benchNoise(Some(before), Some(after), 0L,
      (2.0 * nCpus * wall * 1e9).toLong, wall)
    assert(full.externalBusyFrac.contains(0.0))
    // no /proc/stat (non-linux): fractions null, json still well-formed
    val bare = Bench.benchNoise(None, None, 0L, own1, wall)
    assert(bare.stealFrac.isEmpty && bare.busyFrac.isEmpty &&
      bare.externalBusyFrac.isEmpty)
    assert(bare.json.contains("\"steal_frac\":null"))
    assert(n.json.contains("\"external_busy_frac\":"))
  }

  test("suite-rerun inflation rule (r4 verdict #1): the observed r4 " +
      "DRAM-tenancy rows flag, quiet repeats don't, and a failed rerun " +
      "never flags the first sample") {
    // the four rows of the r4 record's contiguous inflated window,
    // with their quiet re-measurements (VERDICT r4 'What's wrong' #1)
    assert(Bench.suiteSampleInflated(Some(31.59), Some(1.86))) // q_json_positional
    assert(Bench.suiteSampleInflated(Some(22.70), Some(3.14))) // q_redirect_resolve
    assert(Bench.suiteSampleInflated(Some(5.29), Some(0.34)))  // q_metadata_json
    assert(Bench.suiteSampleInflated(Some(4.55), Some(0.42)))  // q_video_frames
    // quiet repeatability band (±3%) is far inside the 2× threshold
    assert(!Bench.suiteSampleInflated(Some(1.92), Some(1.86)))
    assert(!Bench.suiteSampleInflated(Some(1.86), Some(1.92)))
    // exactly 2× is NOT flagged (the rule is >2×, so a legitimately
    // bimodal-but-honest pair stays unflagged at the boundary)
    assert(!Bench.suiteSampleInflated(Some(4.0), Some(2.0)))
    // a failed run (no sample) must not flag — no corroboration
    // evidence exists either way
    assert(!Bench.suiteSampleInflated(Some(31.59), None))
    assert(!Bench.suiteSampleInflated(None, Some(1.86)))
  }

  test("scaling record: an unpinned record is invalid, its reason " +
      "rendered by Jackson") {
    val samples = Seq(1, 4).flatMap(c => Seq(1, 2).map(r =>
      Bench.ArmSample(c, 1, r, Some(if (c == 1) 60.0 else 17.0),
        Some(0.0), Some(0.0))))
    val invalid = Bench.Json.readTree(Bench.renderScalingRecord(Seq(1, 4),
      8000000L, Seq(60.0, 17.0), pinned = false, samples))
    assert(!invalid.get("valid").asBoolean())
    assert(invalid.get("invalid_reason").asText().contains("unpinned"))
    assert(invalid.get("samples").size() === samples.size)
  }

  test("headline: a query with no successful run nulls the total and is " +
      "named in failed, never summed as zero") {
    val ok = Bench.Json.readTree(Bench.Json.writeValueAsString(
      Bench.headlineFields(Seq("q_a" -> Some(1.25), "q_b" -> Some(2.5)))))
    assert(ok.get("value").asDouble() === 3.75)
    assert(ok.get("failed").size() === 0)
    val bad = Bench.Json.readTree(Bench.Json.writeValueAsString(
      Bench.headlineFields(Seq("q_a" -> Some(1.25), "q_b" -> None,
        "q_c" -> Some(2.5)))))
    assert(bad.get("value").isNull)
    assert(bad.get("failed").size() === 1 &&
      bad.get("failed").get(0).asText() === "q_b")
  }

  test("recall block: Jackson renders every key with the record's " +
      "3-decimal values and both curves") {
    val fields = Bench.Json.writeValueAsString(Bench.recallFields(
      Seq("ann_recall_at_10" -> 0.9375, "ann_ivf_recall_at_10" -> 1.0),
      Seq((1, 0.325, 904L), (5, 0.9375, 3003L)), Seq((1, 0.5, 10L))))
    assert(fields.startsWith(
      "{\"ann_recall_at_10\":0.938,\"ann_ivf_recall_at_10\":1.000,"))
    val tree = Bench.Json.readTree(fields)
    assert(tree.get("ann_image_recall_at_10").asDouble() === 0.5)
    val curve = tree.get("ann_recall_curve")
    assert(curve.size() === 2 && curve.get(1).get("candidates").asLong() === 3003L)
    assert(tree.get("ann_image_recall_curve").get(0).get("probes").asInt() === 1)
  }

  test("every record renders '.' decimals and parses as JSON under a " +
      "comma-decimal default locale") {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val sample = Bench.ArmSample(1, 1, 1, Some(72.65), Some(0.0003), None)
      val noise = Bench.benchNoise(None, None, 0L, 0L, 12.34)
      val scaling = Bench.renderScalingRecord(Seq(1, 4), 8000000L,
        Seq(60.5, 17.25), pinned = true, Seq(sample))
      val recall = Bench.Json.writeValueAsString(Bench.recallFields(
        Seq("ann_recall_at_10" -> 0.9375), Seq((1, 0.5, 10L)),
        Seq((1, 0.5, 10L))))
      val headline = Bench.Json.writeValueAsString(
        Bench.headlineFields(Seq("q_a" -> Some(1.25))))
      val trees = Seq(sample.json, noise.json, scaling, recall, headline)
        .map(Bench.Json.readTree)
      assert(trees(0).get("sec").asDouble() === 72.65)
      assert(trees(1).get("wall_sec").asDouble() === 12.3)
      assert(trees(2).get("sec_small").asDouble() === 60.5 &&
        trees(2).get("samples").get(0).get("steal_frac").asDouble() === 0.0003)
      assert(trees(3).get("ann_recall_at_10").asDouble() === 0.938)
      assert(trees(4).get("value").asDouble() === 1.25)
      // a child's per-run line comes back through the parent's reader
      val runs = Bench.parseRuns(
        ScalingBench.runLine(4, 2, 60.02, Some(0.0003), None), 4, 1)
      assert(runs === Seq(Bench.ArmSample(4, 1, 2, Some(60.02), Some(0.0003), None)))
    } finally java.util.Locale.setDefault(prev)
  }
}
