package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.databind.util.RawValue
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Fixtures
import graft.store.FrontierStore

/** Driver benchmark: runs every SparkEntry query plus the frontier
  * headline tick ([[Bench.frontierTick]]), prints ONE JSON line
  * {"metric":…,"value":N,"unit":"sec","queries":{…},"sf":…}.
  */
object Bench {

  /** The default `cores` of [[FrontierMain.session]], which every tool
    * runs: `SPARK_GRAFT_CPUS`, else this box's core count (the `local[*]`
    * that `FrontierMain` runs).
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Listing rows per headline tick: `SPARK_GRAFT_FRONTIER_N`, else 2 M —
    * at 8 M a pinned 1-core arm child (warmup and 3 runs) outlasted its
    * 20-minute timeout while every run still rewrote its inputs (BENCH.md
    * §1).
    */
  def frontierN: Long = sys.env.get("SPARK_GRAFT_FRONTIER_N").map(_.toLong)
    .getOrElse(2000000L)

  /** Sources whose first tick lists about `n` rows: a fresh store's tick 0
    * lists each source's newest `FrontierMain.ItemsPerSource` items
    * (×SkewFactor for a mega source), no more than it has published.
    */
  def sourcesFor(n: Long): Int = {
    def listed(i: Int): Long = math.min(Fixtures.publishedAt(i, 0),
      FrontierMain.ItemsPerSource.toLong *
        (if (Fixtures.isMega(i)) Fixtures.SkewFactor else 1))
    Iterator.from(0).scanLeft(0L)(_ + listed(_)).indexWhere(_ >= n).max(1)
  }

  /** One [[frontierTick]]: the listing rows it read, its seconds, the
    * manifest's `new_articles`, and whether the commit passed the check.
    */
  final case class TickRun(rows: Long, sec: Double, newArticles: Long,
      ok: Boolean)

  /** Parquet dirs of [[frontierTick]]'s inputs by `n`, each written once
    * per JVM under one temp dir that is deleted when the JVM exits.
    */
  private val tickInputs = scala.collection.mutable.Map.empty[Long, String]
  private lazy val tickInputsRoot = {
    val d = java.nio.file.Files.createTempDirectory("graft-frontier-inputs")
    sys.addShutdownHook(FileUtils.deleteQuietly(d.toFile))
    d
  }

  /** The dir holding `listings`, `sources`, `robots`, `pages` and `seed` at
    * `n`: `FrontierMain.main`'s fixtures for the sources whose first tick
    * lists about `n` rows. Written on the first call for `n`.
    */
  private def tickInputsAt(spark: SparkSession, n: Long): String =
    tickInputs.getOrElseUpdate(n, {
      import spark.implicits._
      val nSources = sourcesFor(n)
      val dir = tickInputsRoot.resolve(s"n$n").toString
      def write(name: String, df: DataFrame): Unit =
        df.write.parquet(s"$dir/$name")
      write("listings", Fixtures.listItemsAt(spark, nSources,
        FrontierMain.ItemsPerSource, 0).toDF())
      write("sources", Fixtures.sourceSpecs(nSources).toDF())
      write("robots", Fixtures.robots(nSources).toDF())
      write("pages", Fixtures.pageStore(spark, nSources).toDF())
      write("seed", Fixtures.urlSeenSeed(spark, nSources,
        Fixtures.DefaultPreSeen).toDF().select("canonical_url"))
      dir
    })

  /** The headline: one timed `FrontierMain.tick` over a fresh
    * `FrontierStore` whose first tick lists about `n` rows. Every run at
    * `n` in one JVM reads the same input files ([[tickInputsAt]]) and gets
    * its own store. `initSeen` and the check run outside the timed region:
    * no committed URL may be in the seed or repeat. `inspect` sees the
    * store before it is deleted.
    */
  def frontierTick(spark: SparkSession, n: Long,
      inspect: FrontierStore => Unit = _ => ()): TickRun = {
    val in = tickInputsAt(spark, n)
    def read(name: String): DataFrame = spark.read.parquet(s"$in/$name")
    val dir = java.nio.file.Files.createTempDirectory("graft-frontier-store")
    try {
      val store = new FrontierStore(dir.toString)
      val (listings, seed) = (read("listings"), read("seed"))
      store.initSeen(spark, seed)
      val ((m, _), sec) = timed(FrontierMain.tick(spark, store, listings,
        read("sources"), read("robots"), read("pages"), 0L, images = None))
      val ok = m.articlesPath.fold(m.newArticles == 0L) { _ =>
        val urls = store.articles(spark).select("canonical_url")
        val r = urls.agg(count(lit(1)), countDistinct("canonical_url")).head()
        r.getLong(0) == m.newArticles && r.getLong(1) == m.newArticles &&
          urls.join(seed, Seq("canonical_url"), "left_semi").isEmpty
      }
      inspect(store)
      TickRun(listings.count(), sec, m.newArticles, ok)
    } finally FileUtils.deleteDirectory(dir.toFile)
  }

  // ------------------------------------------------- scaling telemetry ---

  /** Noise bounds that adjudicate a scaling sample's validity (r3 verdict
    * #1: the record must carry its own noise evidence — BENCH_r03.json's
    * superlinear 1.029 had nothing in the artifact marking it invalid).
    * A timed run is QUIET when, over every cpu of the box:
    *  - steal time ≤ 5% (hypervisor preemption — the external-VM noise
    *    that inflated whole afternoons of samples);
    *  - busy time minus the child JVM's own cpu time ≤ 10% (foreign load
    *    inside the VM; the parent JVM just waits on the child). This is
    *    [[benchNoise]]'s measure and tickbench's quiet bound, and it holds
    *    an arm that pins every cpu of the box too.
    */
  val MaxStealFrac = 0.05
  val MaxExternalBusyFrac = 0.10

  /** One timed scaling run: seconds plus the noise evidence bracketing it
    * ([[armNoise]]). Since r4 the bracket is PER RUN, read by the child JVM
    * around each timed execution (ScalingBench.arm) — the parent's
    * whole-child-lifetime bracket (warmup + all runs, ~5 min on the 1-core
    * arm) let a single host burst poison every run in the child. `run` 0 =
    * a child that printed no per-run line (it failed first), with no noise
    * evidence. `sec` None = the child failed or timed out; noise fields
    * None = /proc/stat unreadable.
    */
  final case class ArmSample(cores: Int, round: Int, run: Int,
      sec: Option[Double],
      stealFrac: Option[Double], externalBusyFrac: Option[Double]) {
    // A sample with NO noise evidence (both fields None — /proc/stat
    // unreadable) is NOT quiet: quiet is a positive claim the record uses
    // to elect and corroborate minima, and absence of evidence must mark
    // the record invalid (same rule as the unpinned fallback), not launder
    // it into a "valid" verdict.
    def quiet: Boolean = stealFrac.exists(_ <= MaxStealFrac) &&
      externalBusyFrac.exists(_ <= MaxExternalBusyFrac)
    def node: ObjectNode = Json.createObjectNode()
      .put("cores", cores).put("round", round).put("run", run)
      .put("sec", dec(sec.map(s => (s * 1000).round / 1000.0), 4))
      .put("steal_frac", dec(stealFrac, 4))
      .put("external_busy_frac", dec(externalBusyFrac, 4))
      .put("quiet", quiet)
    def json: String = Json.writeValueAsString(node)
  }

  /** Per-cpu jiffies from /proc/stat: cpu index → [user, nice, system,
    * idle, iowait, irq, softirq, steal, ...].
    */
  def readCpuJiffies(): Option[Map[Int, Array[Long]]] =
    try {
      import scala.jdk.CollectionConverters._
      val lines = java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get("/proc/stat")).asScala
      val per = lines.filter(l => l.startsWith("cpu") &&
          l.length > 3 && l.charAt(3).isDigit)
        .map { l =>
          val parts = l.trim.split("\\s+")
          parts(0).stripPrefix("cpu").toInt -> parts.drop(1).map(_.toLong)
        }.toMap
      if (per.isEmpty) None else Some(per)
    } catch { case _: Exception => None }

  /** (total, idle + iowait, steal) jiffies summed over the `cpus` that
    * both /proc/stat snapshots read; None when there are none.
    */
  private def jiffyDelta(before: Map[Int, Array[Long]],
      after: Map[Int, Array[Long]], cpus: Iterable[Int])
      : Option[(Long, Long, Long)] = {
    val ds = cpus.toSeq.flatMap { c =>
      (before.get(c), after.get(c)) match {
        case (Some(b), Some(a)) if a.length >= 8 && b.length >= 8 =>
          val d = a.zip(b).map { case (x, y) => x - y }
          Some((d.take(8).sum, d(3) + d(4), d(7)))
        case _ => None
      }
    }
    if (ds.isEmpty) None
    else Some((ds.map(_._1).sum, ds.map(_._2).sum, ds.map(_._3).sum))
  }

  /** Runs each scaling arm in a dedicated child JVM pinned to its cores
    * (`taskset -c (top range)`) with proportional heap, reusing this JVM's
    * classpath and --add-opens flags; the child runs
    * [[ScalingBench]] in single-arm mode (full-size warmup + 3 timed runs,
    * each run bracketed by its OWN noise read) and prints one
    * JSON line per run. Arms interleave across rounds and each keeps its
    * quiet minimum. Rounds are ADAPTIVE (r4): at least [[MinRounds]], and
    * sampling stops early once every arm's quiet minimum is corroborated
    * ([[corroborated]]) with a sane (≤ 1.0) quiet-minima ratio — a quiet
    * box pays ~2 rounds,
    * a noisy one keeps widening its wall-clock window up to [[MaxRounds]]
    * chances to catch a quiet run per arm. EVERY timed run is returned
    * with its noise evidence (r3 verdict #1), so the committed record
    * adjudicates itself.
    * Returns (best seconds per arm, pinned?, all samples).
    */
  val MinRounds = 2
  val MaxRounds = 6

  /** Wall-clock budget for the whole adaptive-arms phase, seconds. The
    * adaptive widening is open-ended by design — a noisy box keeps
    * earning rounds — but each round costs minutes (a pinned 1-core child
    * pays Spark startup + 3 timed runs at 1 core), so an hour-long bench
    * is possible exactly when the environment is too noisy for the extra
    * rounds to help (measured: a driver-adjacent box burned 51 min of
    * rounds without corroborating).
    * When the budget is hit, sampling STOPS and the record adjudicates
    * from what was collected — an uncorroborated minimum then marks the
    * record invalid with the stated reason, which is the honest outcome:
    * more waiting was not going to buy a quiet window, and the bench's
    * other headline rows still land inside the driver's round budget.
    * Round 1 always completes (no samples at all is strictly worse).
    */
  val ArmsBudgetSec = 1500.0

  /** A chosen arm minimum must be CORROBORATED: a second quiet run of the
    * same arm within this fraction of it. /proc/stat steal and busy time
    * cannot see memory-bandwidth contention (measured: a concurrent 4-core
    * Spark job on a 32-cpu box kept the cpus outside the arm 7–18% busy
    * while inflating the pinned 4-core arm 4–20×, yielding a
    * "quiet"-labeled efficiency of 0.243), but genuinely quiet runs repeat
    * within ±3% on this host, so dispersion IS the contention signal: an
    * arm whose quiet runs disagree by more than this tolerance was not
    * quiet, whatever the cpu fractions said. The tolerance equals the
    * MEASURED quiet-repeatability, not a round number: a first cut at 10%
    * admitted a steady-contention record (every sample "quiet", arms
    * bouncing 66–161 s / 25–154 s, minima corroborated at 7.6%) that read
    * efficiency 0.659 "valid" while the same build measures 0.983 on a
    * quiet box — asymmetric DRAM contention inflates the wide arm more
    * than the narrow one, so it deflates (never inflates) efficiency, and
    * only the repeatability window catches it (regression-tested with the
    * observed seconds in ScalingTelemetrySpec).
    */
  val CorroborationTol = 0.03

  /** The quiet pool of an arm: its quiet successful runs, or every
    * successful run when no quiet one exists (the caller marks that case
    * invalid via the chosen-run noise check).
    */
  def quietPool(samples: Seq[ArmSample], cores: Int): Seq[ArmSample] = {
    val ok = samples.filter(s => s.cores == cores && s.sec.isDefined)
    if (ok.exists(_.quiet)) ok.filter(_.quiet) else ok
  }

  /** Outlier-forgiveness band for the corroborated-minimum election: the
    * elected (corroborated) time may sit at most this far above the arm's
    * raw fastest quiet run. A LONE fast run within the band is the quiet
    * distribution's tail (observed: a 16.81 s 4-core run 4.7% below an
    * otherwise-tight {17.60, 17.76, 18.05} cluster — real, just not
    * repeatable at ±3%) and must neither inflate the claim nor invalidate
    * the record; a gap beyond the band means the arm's distribution is
    * multi-modal — the bouncing-host regime (measured: a contended
    * evening whose 1-core corroborated pair sat 19% above its fastest
    * run) — and the record stays invalid.
    */
  val OutlierBandTol = 0.10

  /** The arm's ELECTED time: the fastest quiet run CORROBORATED by a
    * second quiet run within [[CorroborationTol]], required to sit within
    * [[OutlierBandTol]] of the raw fastest quiet run (see above). The
    * ascending neighbor check is complete: if any earlier (faster) value
    * were within tolerance of a later one, that earlier value's own
    * neighbor gap would already have elected it.
    */
  def corroboratedMin(samples: Seq[ArmSample], cores: Int): Option[Double] = {
    val ms = quietPool(samples, cores).filter(_.quiet)
      .flatMap(_.sec).sorted
    ms.sliding(2).collectFirst {
      case Seq(a, b) if b <= a * (1 + CorroborationTol) => a
    }.filter(v => v <= ms.head * (1 + OutlierBandTol))
  }

  /** True when the arm elects a corroborated minimum (see
    * [[corroboratedMin]]).
    */
  def corroborated(samples: Seq[ArmSample], cores: Int): Boolean =
    corroboratedMin(samples, cores).isDefined

  /** Validity reasons for a scaling record — empty = valid. Pure so the
    * false-valid scenarios stay regression-tested (ScalingTelemetrySpec).
    */
  def adjudicationReasons(armCores: Seq[Int], scalingEff: Double,
      pinned: Boolean, samples: Seq[ArmSample]): Seq[String] = {
    val reasons = scala.collection.mutable.ListBuffer[String]()
    if (scalingEff > 1.0)
      reasons += "superlinear (>1.0): small arm starved of a quiet window"
    armCores.foreach { c =>
      quietPool(samples, c).sortBy(_.sec.get).headOption match {
        case Some(s) if !s.quiet =>
          def f2(o: Option[Double]) = o.map(v => f"$v%.3f").getOrElse("n/a")
          reasons += (if (s.stealFrac.isEmpty && s.externalBusyFrac.isEmpty)
            s"best $c-core sample carries no noise evidence (/proc/stat unreadable)"
          else s"best $c-core sample under host noise (steal=" +
            s"${f2(s.stealFrac)}, external_busy=${f2(s.externalBusyFrac)})")
        case Some(_) if !corroborated(samples, c) =>
          reasons += s"uncorroborated $c-core minimum: no quiet run both " +
            s"corroborated within ${(CorroborationTol * 100).toInt}% and " +
            s"within ${(OutlierBandTol * 100).toInt}% of the arm's fastest " +
            "(quiet runs that disagree mean invisible contention — " +
            "memory bandwidth, not cpu)"
        case None if pinned =>
          reasons += s"no successful $c-core child sample"
        case _ => ()
      }
    }
    if (!pinned)
      reasons += "unpinned in-process fallback arms (no per-child noise evidence)"
    reasons.toSeq
  }

  /** The child's `{"metric":metric,…}` lines, read as JSON trees; a line
    * that does not parse is skipped, so log noise and prose never count.
    */
  private def metricLines(out: String, metric: String): Seq[JsonNode] =
    out.linesIterator.flatMap { l =>
      val i = l.indexOf("{\"metric\":")
      if (i < 0) None else scala.util.Try(Json.readTree(l.substring(i))).toOption
    }.filter(_.path("metric").asText == metric).toSeq

  /** The child's per-run telemetry lines → one sample per timed run.
    * Callers fall back to a single sample (run 0) with no noise evidence
    * when the child printed no per-run lines.
    */
  def parseRuns(out: String, cores: Int, round: Int): Seq[ArmSample] =
    metricLines(out, "scaling_run")
      .filter(t => t.path("cpus").asInt(-1) == cores && t.path("run").isInt &&
        t.path("sec").isNumber)
      .map { t =>
        def d(key: String) = Some(t.path(key)).filter(_.isNumber).map(_.asDouble)
        ArmSample(cores, round, t.path("run").asInt, d("sec"), d("steal_frac"),
          d("external_busy_frac"))
      }

  def runPinnedArms(armCores: Seq[Int], n: Long)
      : (Seq[Double], Boolean, Seq[ArmSample]) = {
    import scala.jdk.CollectionConverters._
    val taskset = Seq("/usr/bin/taskset", "/bin/taskset")
      .find(p => new java.io.File(p).canExecute)
    // (best sec, raw child stdout) — the stdout carries the per-run
    // scaling_run telemetry lines
    def childArm(cores: Int): (Option[Double], String) = taskset.map { ts =>
      try {
        val javaBin = System.getProperty("java.home") + "/bin/java"
        val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.asScala.toSeq
          .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms"))
        // heap ≥ 4 GB and ∝ cores: memory-per-core is what a real cluster
        // holds CONSTANT from N to 4N executors (total still scales 4×).
        // At 1 GB/core the small arm is GC/spill-bound, not CPU-bound,
        // and the measured "efficiency" goes superlinear (1.29 observed)
        // — as wrong a measurement as the shared-DRAM 0.32.
        val heapGb = math.max(4, 2 * cores)
        // pin to the TOP of the cpu range — keeps the arm clear of cpu0's
        // kernel/IRQ work and of unpinned parent threads (which land low
        // by default). Measured neutral on this VM (the ±50% drift is
        // host-external: a 4-core arm read 22.2 s top-pinned and 23.8 s
        // low-pinned in the same hour, vs 16.3 s on a quiet morning), but
        // it removes one systematic confounder for free.
        val nCpus = Runtime.getRuntime.availableProcessors
        val cpuRange = s"${nCpus - cores}-${nCpus - 1}"
        val cmd = Seq(ts, "-c", cpuRange, javaBin) ++ jvmArgs ++
          Seq(s"-Xmx${heapGb}g", "-cp", System.getProperty("java.class.path"),
            "graft.ScalingBench")
        val pb = new ProcessBuilder(cmd.asJava)
        pb.environment().put("SPARK_GRAFT_ARM", cores.toString)
        pb.environment().put("SPARK_GRAFT_FRONTIER_N", n.toString)
        // best-of-N INSIDE the child (warm JVM, cheap reruns): damps the
        // ±50% host drift so the committed sample stands on its own
        // (r2 "What's wrong" #2), on top of the interleaved-round minima —
        // and host noise is one-sided (it only inflates), so every extra
        // sample weakly improves the minimum. Sampling effort is spent
        // per WALL-CLOCK SECOND, not per run: the wide arm's runs cost
        // ~1/cores of the narrow arm's, so it earns 5 draws to the narrow
        // arm's 3 (≈ +15% child time for +67% corroboration chances —
        // observed invalid records are mostly the WIDE arm's minimum
        // lacking a second quiet run within the 3% tolerance, because its
        // short runs sample a narrower window of the drift). 3 or 5
        // in-child runs × 2..6 adaptive rounds = 6-30 timed runs per arm.
        val armRuns = if (cores == armCores.max) 5 else 3
        pb.environment().put("SPARK_GRAFT_ARM_RUNS", armRuns.toString)
        pb.redirectErrorStream(true)
        // output to a file, not a pipe: a hung child must be killable by
        // waitFor(timeout) without this thread blocking in readAllBytes
        // (ADVICE r2) — and the file is still readable after the kill.
        val outFile = java.io.File.createTempFile("graft-arm", ".out")
        pb.redirectOutput(outFile)
        val proc = pb.start()
        val finished = proc.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)
        if (!finished) {
          proc.destroyForcibly()
          proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
        }
        val out = new String(java.nio.file.Files.readAllBytes(outFile.toPath), "UTF-8")
        outFile.delete()
        val ok = finished && proc.exitValue() == 0
        val sec = metricLines(out, "scaling_arm").map(_.path("sec"))
          .find(_.isNumber).map(_.asDouble)
        if (!ok || sec.isEmpty)
          System.err.println(s"[bench] pinned arm cpus=$cores " +
            s"${if (finished) "failed" else "TIMED OUT (killed)"}:\n" +
            out.linesIterator.toSeq.takeRight(15).mkString("\n"))
        (if (ok) sec else None, out)
      } catch { case e: Exception =>
        System.err.println(s"[bench] pinned arm spawn failed: $e"); (None, "")
      }
    }.getOrElse((None, ""))
    // Interleaved rounds: host load on this VM drifts ±50% over minutes
    // (measured: the same pinned 1-core arm ran 61 s and 88 s half an
    // hour apart), so arms alternate (small, large) per round — one
    // best-of-3 child per arm per round, spreading the samples across a
    // wall-clock window — and each arm keeps its best quiet run:
    // one-sided noise only ever inflates a run, so per-arm minima
    // converge on true capability. Each timed run self-brackets with
    // its noise read inside the child (run-level resolution); the noise
    // evidence rides into the bench JSON so a run taken under a burst is
    // VISIBLY noisy in the record. Rounds adapt to the box: stop after
    // round ≥ MinRounds once every arm's quiet minimum is CORROBORATED
    // (a second quiet run within CorroborationTol — dispersion is the
    // contention signal /proc/stat can't see) AND the quiet-minima ratio
    // is physical (≤ 1.0 — superlinear means the small arm's quiet
    // minimum is still inflated); otherwise keep widening the window up
    // to MaxRounds.
    val samples = scala.collection.mutable.ArrayBuffer[ArmSample]()
    def quietMin(cores: Int): Option[Double] = {
      val pool = quietPool(samples.toSeq, cores)
      if (pool.nonEmpty) Some(pool.map(_.sec.get).min) else None
    }
    var round = 0
    var settled = false
    val phaseT0 = System.nanoTime()
    def phaseElapsed: Double = (System.nanoTime() - phaseT0) / 1e9
    var budgetHit = false
    while (round < MaxRounds && !settled && !budgetHit) {
      round += 1
      armCores.foreach { cores =>
        // round 1 always runs both arms; later spawns respect the budget
        if (round == 1 || phaseElapsed < ArmsBudgetSec) {
          val (sec, out) = childArm(cores)
          val perRun = parseRuns(out, cores, round)
          if (perRun.nonEmpty) samples ++= perRun
          else samples += ArmSample(cores, round, 0, sec, None, None)
          System.err.println(f"[bench] arms round $round cpus=$cores " +
            f"best=${sec.getOrElse(-1.0)}%.2fs elapsed=${phaseElapsed}%.0fs")
        } else budgetHit = true
      }
      if (round >= MinRounds) {
        val quietCovered = armCores.forall(c => corroborated(samples.toSeq, c))
        // settle on the ELECTED (corroborated) times — the values the
        // record will actually carry
        def elected(c: Int): Option[Double] =
          corroboratedMin(samples.toSeq, c).orElse(quietMin(c))
        val effSane = (elected(armCores.head), elected(armCores.last)) match {
          case (Some(s), Some(l)) =>
            s / ((armCores.last.toDouble / armCores.head) * l) <= 1.0
          case _ => false
        }
        settled = quietCovered && effSane
      }
      if (!settled && phaseElapsed >= ArmsBudgetSec) {
        budgetHit = true
        System.err.println(f"[bench] arms budget ($ArmsBudgetSec%.0fs) hit " +
          f"after round $round uncorroborated — stopping; the record " +
          "adjudicates from the samples collected")
      }
    }
    // Per-arm election: the fastest CORROBORATED quiet run (within the
    // outlier band of the raw fastest — corroboratedMin). The claim is
    // the fastest REPEATABLE time: a lone fast outlier neither inflates
    // the ratio nor invalidates an otherwise-tight arm; an arm with no
    // corroborated time falls back to its raw quiet minimum and the
    // record marks itself invalid downstream with the uncorroborated
    // reason. Noisy samples stay in the record (visibly "quiet": false)
    // but only elect when an arm caught no quiet window at all — also
    // invalid downstream.
    val best = armCores.map(c =>
      corroboratedMin(samples.toSeq, c).orElse(quietMin(c)))
    if (best.forall(_.isDefined)) (best.map(_.get), true, samples.toSeq)
    else (armCores.map(c => ScalingBench.arm(c, n)), false, samples.toSeq)
  }

  /** Runs the N→4N scaling arms and renders the record's `"scaling"` JSON
    * object, including the self-adjudication (r3 verdict #1): the object
    * marks its own validity instead of leaving a superlinear artifact to
    * be adjudicated by prose a round later. Invalid when:
    *  - efficiency > 1.0 — superlinear is physically impossible here and,
    *    by the measured taxonomy (BENCH.md §2), means the 1-core arm never
    *    caught a quiet window;
    *  - the CHOSEN run of either arm executed under host noise above the
    *    stated bounds — selection prefers quiet runs (runPinnedArms), so
    *    this only fires when an arm caught NO quiet run across all rounds
    *    and had to elect a noisy minimum: small-arm noise inflates
    *    efficiency, large-arm noise deflates it; either way the ratio is
    *    polluted;
    *  - the arms fell back to unpinned in-process mode (no noise evidence).
    */
  def scalingRecord(armCores: Seq[Int], scaleN: Long): String = {
    val (armSecs, pinned, armSamples) = runPinnedArms(armCores, scaleN)
    renderScalingRecord(armCores, scaleN, armSecs, pinned, armSamples)
  }

  /** The `"scaling"` JSON object of measured arms, rendered by Jackson, so
    * any character in its free-text invalid reason stays valid JSON.
    */
  def renderScalingRecord(armCores: Seq[Int], scaleN: Long,
      armSecs: Seq[Double], pinned: Boolean, armSamples: Seq[ArmSample])
      : String = {
    val scalingEff = armSecs(0) /
      ((armCores.last.toDouble / armCores.head) * armSecs(1))
    val reasons = adjudicationReasons(armCores, scalingEff, pinned, armSamples)
    val scalingValid = reasons.isEmpty
    val o = Json.createObjectNode()
      .put("cores_small", armCores(0)).put("cores_large", armCores(1))
      .put("n", scaleN).put("pinned", pinned)
      .put("sec_small", dec(Some(armSecs(0)), 3))
      .put("sec_large", dec(Some(armSecs(1)), 3))
      .put("urls_per_sec_small", (scaleN / armSecs(0)).toLong)
      .put("urls_per_sec_large", (scaleN / armSecs(1)).toLong)
      .put("efficiency", dec(Some(scalingEff), 3))
      .put("valid", scalingValid)
      .put("invalid_reason",
        if (scalingValid) null else reasons.mkString("; "))
    o.putObject("noise_bounds").put("max_steal_frac", MaxStealFrac)
      .put("max_external_busy_frac", MaxExternalBusyFrac)
    val samples = o.putArray("samples")
    armSamples.foreach(s => samples.add(s.node))
    Json.writeValueAsString(o)
  }

  /** Suite-phase inflation rule (r4 verdict #1): a first sample more than
    * 2× its corroborating rerun was taken under contention the suite
    * bracket cannot see (the r4 record's q_json_positional read 31.6 s
    * against 1.9 s quiet — a 17× DRAM-tenancy artifact) — the row flags
    * itself and the headline map quotes the faster successful run. Pure so
    * the rule stays regression-tested (ScalingTelemetrySpec).
    */
  def suiteSampleInflated(firstSec: Option[Double],
      rerunSec: Option[Double]): Boolean =
    (firstSec, rerunSec) match {
      case (Some(f), Some(r)) => f > 2 * r
      case _ => false // a failed run is no evidence either way
    }

  /** JSON writer for the bench record. */
  private[graft] val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A record number: `v` rounded half-up to `places` decimals, as a JSON
    * decimal (`.`-separated whatever the default locale; the `f`
    * interpolator follows it). None and non-finite values render as null.
    */
  private[graft] def dec(v: Option[Double], places: Int): java.math.BigDecimal =
    v.filter(_.isFinite).map(java.math.BigDecimal.valueOf(_)
      .setScale(places, java.math.RoundingMode.HALF_UP)).orNull

  /** The recall block of the bench record, rendered by Jackson: one number
    * per [[graft.operators.TrainingOps.AnnRecalls]] key, the image
    * headline, and the two multi-probe curves — the record adds these
    * members to its own object. Values keep the record's 3-decimal form.
    */
  def recallFields(recalls: Seq[(String, Double)],
      annCurve: Seq[(Int, Double, Long)],
      imgCurve: Seq[(Int, Double, Long)]): ObjectNode = {
    def d3(v: Double) = dec(Some(v), 3)
    val o = Json.createObjectNode()
    recalls.foreach { case (k, v) => o.put(k, d3(v)) }
    o.put("ann_image_recall_at_10", d3(imgCurve.head._2))
    for ((key, curve) <- Seq("ann_recall_curve" -> annCurve,
        "ann_image_recall_curve" -> imgCurve)) {
      val a = o.putArray(key)
      curve.foreach { case (p, r, c) =>
        a.addObject().put("probes", p).put("recall", d3(r)).put("candidates", c)
      }
    }
    o
  }

  /** The headline members `"value":…,"failed":[…]` over the suite's
    * per-query seconds (None = no run of that query succeeded). The value is
    * the sum only when every query has a time; otherwise it is null and
    * `failed` names the queries without one, because a sum that left them
    * out would read as a faster suite.
    */
  def headlineFields(results: Seq[(String, Option[Double])]): ObjectNode = {
    val failed = results.collect { case (name, None) => name }
    val o = Json.createObjectNode().put("value",
      if (failed.isEmpty) dec(Some(results.flatMap(_._2).sum), 3) else null)
    val a = o.putArray("failed")
    failed.foreach(a.add)
    o
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Whole-phase noise bracket for the UNPINNED suite/frontier timings —
    * the same self-adjudication the pinned arms carry, at phase
    * granularity: steal + total busy over all cpus from /proc/stat, minus
    * this JVM's own cpu time, leaves the EXTERNAL busy fraction (other
    * tenants). A loaded-box suite record (measured: 84 s vs the same
    * build's 44 s quiet record) then labels itself in the artifact
    * instead of leaving the ratio to be attributed by prose a round
    * later. DRAM-bandwidth tenancy stays invisible here as everywhere —
    * `external_busy_frac` ≈ 0 with inflated times is exactly that
    * signature, and the record preserves it.
    */
  final case class BenchNoise(wallSec: Double, stealFrac: Option[Double],
      busyFrac: Option[Double], ownCpuFrac: Double) {
    def externalBusyFrac: Option[Double] =
      busyFrac.map(b => math.max(0.0, b - ownCpuFrac))
    def node: ObjectNode = Json.createObjectNode()
      .put("wall_sec", dec(Some(wallSec), 1))
      .put("steal_frac", dec(stealFrac, 4)).put("busy_frac", dec(busyFrac, 4))
      .put("own_cpu_frac", dec(Some(ownCpuFrac), 4))
      .put("external_busy_frac", dec(externalBusyFrac, 4))
    def json: String = Json.writeValueAsString(node)
  }

  private[graft] def ownCpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  def benchNoise(before: Option[Map[Int, Array[Long]]],
      after: Option[Map[Int, Array[Long]]], ownCpu0: Long, ownCpu1: Long,
      wallSec: Double): BenchNoise = {
    val (steal, busy) = (for {
      b <- before; a <- after
      (t, i, st) <- jiffyDelta(b, a, b.keySet) if t > 0
    } yield (Some(st.toDouble / t), Some((t - i).toDouble / t)))
      .getOrElse((None, None))
    val nCpus = Runtime.getRuntime.availableProcessors
    val ownFrac =
      if (ownCpu0 >= 0 && ownCpu1 >= 0 && wallSec > 0)
        (ownCpu1 - ownCpu0) / 1e9 / (nCpus * wallSec)
      else 0.0
    BenchNoise(wallSec, steal, busy, ownFrac)
  }

  /** [[benchNoise]] for a run of a taskset-pinned JVM. There
    * `availableProcessors` counts only the pinned cpus, so this JVM's cpu
    * time is re-based on every cpu /proc/stat reads, the base of the busy
    * fraction it is subtracted from.
    */
  def armNoise(before: Option[Map[Int, Array[Long]]],
      after: Option[Map[Int, Array[Long]]], ownCpu0: Long, ownCpu1: Long,
      wallSec: Double): BenchNoise = {
    val n = benchNoise(before, after, ownCpu0, ownCpu1, wallSec)
    before.map(_.size).filter(_ > 0).fold(n)(all => n.copy(ownCpuFrac =
      n.ownCpuFrac * Runtime.getRuntime.availableProcessors / all))
  }

  /** Force full materialization through the noop sink: a bare count()
    * lets Catalyst prune unreferenced projections AND the final politeness
    * windows — it would time a smaller job than the one claimed.
    */
  def force(df: DataFrame): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = FrontierMain.session()
    spark.sparkContext.setLogLevel("WARN")

    // frontier headline FIRST (throughput metric, north rule) — measured
    // on a clean heap, before the query suite fragments it. Each run is a
    // fresh store, so every run does the same work.
    //
    // Warmup at FULL size: the first full-size execution pays JVM heap
    // growth + JIT and measures up to 7× steady state (round-1 driver
    // record: 126 s vs 18 s warm — BENCH_r01 reconciliation). A quarter-
    // size warmup does NOT pay the heap growth; a steady-state claim must
    // warm at the size it times.
    val noiseT0 = System.nanoTime()
    val noiseJiffies0 = readCpuJiffies()
    val noiseOwn0 = ownCpuNanos
    val n = frontierN
    val warmup = frontierTick(spark, n)
    val (run1, run2) = (frontierTick(spark, n), frontierTick(spark, n))
    val frontierOk = Seq(warmup, run1, run2).forall(_.ok)
    val frontierSec = math.min(run1.sec, run2.sec)
    // per-phase seconds arrive with the product's own phase telemetry
    val stages = scala.collection.mutable.LinkedHashMap(
      "full_job_best" -> frontierSec)

    // The shingle/minhash parquet cache is a one-time INDEX BUILD shared by
    // the whole near-dup family (4 consumers across 3 driver-independent
    // queries) — at 100 TB you build it once and amortize. Untimed, it
    // lands on whichever family query the Map happens to order first
    // (measured: q_doc_lsh_pairs read 1.7 s warm vs 24.9 s when it drew the
    // cold build — a 14× swing that says nothing about the query). Build it
    // HERE as its own reported stage so per-query numbers measure queries.
    val (_, cacheSec) = timed {
      graft.operators.TrainingOps.shingles(spark, sfDir).count()
      graft.operators.TrainingOps.minhashSignatures(spark, sfDir).count()
      graft.operators.TrainingOps
        .containmentExcerptShingles(spark, sfDir).count()
    }

    // Per-sample GC attribution (r4 verdict "What's missing" #4): total
    // collector time around each run, so an inflated sample is
    // attributable to collection pressure vs external tenancy.
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
    }
    // Each run forces the whole plan through the noop sink. A run that
    // throws is a failure, not a (fast) sample: sec = None.
    case class QuerySample(sec: Option[Double], gcMs: Long)
    def runQuery(fn: (SparkSession, String) => DataFrame): QuerySample = {
      val g0 = gcMs
      val sec =
        try Some(timed(force(fn(spark, sfDir)))._2)
        catch { case scala.util.control.NonFatal(_) => None }
      spark.catalog.clearCache() // queries may persist intermediates
      QuerySample(sec, gcMs - g0)
    }
    val firstPass = scala.collection.mutable.LinkedHashMap[String, QuerySample]()
    SparkEntry.queries.foreach { case (name, fn) =>
      firstPass(name) = runQuery(fn)
    }
    // SUITE self-adjudication (r4 verdict #1): the scaling arms carry
    // per-run noise brackets + corroboration, but the suite recorded ONE
    // uncorroborated sample per query — and the r4 driver record held a
    // ~58 s contiguous DRAM-tenancy window (q_json_positional 31.6 s vs
    // 1.9 s quiet) that external_busy_frac cannot see. Protocol: re-run
    // the N slowest queries once, record {first, rerun, gc_ms} per query,
    // flag first > 2× rerun as "inflated", and let the HEADLINE map quote
    // the corroborated (min) number. A persistent co-tenant inflates both
    // samples — then both read high and the row is honestly slow-labeled,
    // which is still strictly more evidence than one sample.
    val RerunCount = 10
    val rerunNames = firstPass.toSeq.filter(_._2.sec.isDefined)
      .sortBy(-_._2.sec.get).take(RerunCount).map(_._1)
    val rerunSamples = rerunNames
      .map(n => n -> runQuery(SparkEntry.queries(n))).toMap
    // headline: the minimum over the runs that succeeded; None = every run
    // failed, recorded as null
    val results = firstPass.map { case (name, s) =>
      name -> (s.sec.toSeq ++ rerunSamples.get(name).flatMap(_.sec)).minOption
    }
    val suiteRerun = Json.createObjectNode()
    rerunNames.foreach { name =>
      val f = firstPass(name); val r = rerunSamples(name)
      suiteRerun.putObject(name).put("first", dec(f.sec, 3))
        .put("rerun", dec(r.sec, 3))
        .put("first_gc_ms", f.gcMs).put("rerun_gc_ms", r.gcMs)
        .put("inflated", suiteSampleInflated(f.sec, r.sec))
    }
    // stages are NOT queries: the queries map is exactly the oracled
    // surface (1:1 with CORRECTNESS — r4 verdict #2); one-time index
    // builds and the frontier headline land here instead
    val stageSecs = scala.collection.mutable.LinkedHashMap[String, Double]()
    stageSecs("traincache_build") = cacheSec
    stageSecs("frontier_tick") = frontierSec
    val suiteNoise = benchNoise(noiseJiffies0, readCpuJiffies(), noiseOwn0,
      ownCpuNanos, (System.nanoTime() - noiseT0) / 1e9)

    // honesty metric for every approximate ANN index: recall@10 vs the
    // exact top-10 on the same corpus, one row per recall-table key, plus
    // the LSH multi-probe curve (1/3/5 probes per band) and its image
    // sibling (12×5-bit banded Hamming top-k, 1/3/6 probes per band)
    val recalls = recallFields(
      graft.operators.TrainingOps.annRecalls(spark, sfDir),
      graft.operators.TrainingOps.lshRecallCurve(spark, sfDir),
      graft.operators.TrainingOps.imageHammingRecallCurve(spark))

    // Scaling arms (north rule: throughput efficiency ≥ 0.8 from N to 4N
    // cores) — driver-reproducible in ONE run, but each arm in its OWN
    // child JVM, taskset-pinned to exactly its cores with proportional
    // heap (a 4N cluster brings 4N cores AND 4× the memory; pinning also
    // sizes the child's GC/JIT thread pools to the arm). In-process arms
    // measured 0.32-0.61 "efficiency" — not core scaling but the box's
    // shared-DRAM/GC ceiling plus a suite-polluted heap; the pinned-JVM
    // methodology is the single-box stand-in for executors that each bring
    // their own DRAM (BENCH.md §2). Falls back to in-process arms (flagged
    // "pinned":false) only if taskset or JVM spawn is unavailable. Arms:
    // 1 vs 4 pinned cores, both at the headline's full n, so both run in
    // the regime where fixed per-job latency is amortized.
    spark.stop()
    val scalingJson = scalingRecord(Seq(1, 4), n)

    def jmap(m: scala.collection.Map[String, Option[Double]]): ObjectNode = {
      val o = Json.createObjectNode()
      m.foreach { case (k, v) => o.put(k, dec(v, 3)) }
      o
    }
    def secs(m: scala.collection.Map[String, Double]) = jmap(m.map {
      case (k, v) => k -> Some(v) })
    val head = Json.createObjectNode().put("metric", "total")
    head.setAll[ObjectNode](headlineFields(results.toSeq))
    // a headline tick that fails its check is a failure, not a sample
    if (!frontierOk) head.withArray("failed").add("frontier_tick")
    head.put("unit", "sec").set[ObjectNode]("queries", jmap(results))
      .put("sf", sfDir)
    cpus.toIntOption.fold(head.put("cpus", cpus))(head.put("cpus", _))
    head.put("frontier_n", run1.rows)
      .put("frontier_scheduled_rows", run1.newArticles)
      .put("frontier_urls_per_sec", Option.when(frontierOk)(
        java.lang.Long.valueOf((run1.rows / frontierSec).toLong)).orNull)
    head.putArray("frontier_runs_sec").add(dec(Some(run1.sec), 3))
      .add(dec(Some(run2.sec), 3))
    head.set[ObjectNode]("frontier_stages", secs(stages))
      .setAll[ObjectNode](recalls)
    head.set[ObjectNode]("bench_noise", suiteNoise.node)
      .set[ObjectNode]("suite_rerun", suiteRerun)
      .set[ObjectNode]("stage_sec", secs(stageSecs))
      .putRawValue("scaling", new RawValue(scalingJson))
    val line = Json.writeValueAsString(head)
    // build.sbt sets outputStrategy := StdoutOutput, so this line reaches
    // the driver's stdout tail UNPREFIXED (sbt's "[info] " wrapper broke
    // the driver's parse in rounds 1-2); the file copy stays as the
    // parse-proof record either way.
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_OUT.json"), line + "\n")
  }
}
