package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.{BandJoin, TrainingOps}

/** Streaming corpus admission: the training-data counterpart of the
  * streamed crawl tick (`FrontierMain.streamTicks`) — a stream of crawled
  * documents is admitted against the PERSISTED near-dup index (the
  * daily-increment operation of `TrainingOps.incrementalDedup`, run per
  * micro-batch), and each batch's ADMITTED documents extend the index for
  * every later batch. The index is never rebuilt and never self-joined:
  * the only pair generation per batch is batch ⋈ index on (band, band_sig)
  * plus the batch's own intra-batch pairs (bounded by the batch, not the
  * corpus).
  *
  * Cross-batch exactly-once: Structured Streaming replays the last
  * un-checkpointed batch after a kill, so the sink is idempotent via a
  * commit-marker guard — a batch writes its verdicts and its index delta
  * under batch-id-suffixed dirs and touches `commit_<id>` LAST; a replay
  * that finds the marker skips (the delta already landed, the marker is
  * the commit point — the FrontierStore manifest pattern in miniature).
  *
  * Intra-batch rule (the piece the batch operator doesn't need): within a
  * micro-batch, near-dups resolve keep-first-by-doc_id — deterministic
  * regardless of partitioning, the same order rule as SemDeDup and the
  * tick's claim order. A doc is ADMITTED iff it has no verified index
  * duplicate AND no smaller-id intra-batch duplicate.
  *
  * Scale shape per batch: the batch side of the index probe broadcasts
  * below the size gate (zero index shuffle — the 100 TB plan) and
  * shuffles on the uniform (band, band_sig) key above; the Jaccard
  * confirm touches index shingles ONLY for candidate corpus docs (the
  * candidate id set semi-joins the shingle scan first); the index grows
  * by appending per-batch delta files — no rewrite, the Iceberg-append
  * discipline the FrontierStore uses for its Bloom segments.
  */
object StreamingAdmission {

  final case class DocRow(doc_id: Long, text: String)

  /** One batch's admission result; `release()` drops the kernel's
    * per-batch persisted intermediates once the outputs are materialized
    * (the TickResult.cleanup contract — a foreachBatch loop must not
    * accumulate cached frames across batches).
    */
  final case class AdmissionBatch(verdicts: DataFrame, deltaSigs: DataFrame,
      deltaSh: DataFrame, release: () => Unit)

  /** Per-batch admission kernel, pure in (batch, index) — the streaming
    * sink and the spec's sequential replay both call THIS, so the
    * stream ≡ batch-chain law tests the streaming plumbing, not a
    * reimplementation.
    *
    * @param indexSigs persisted band signatures (band, band_sig, doc_id)
    * @param indexSh   persisted distinct shingles (doc_id, shh)
    */
  def admitBatch(batch: DataFrame, indexSigs: DataFrame, indexSh: DataFrame,
      maxBroadcastBytes: Long = TrainingOps.DefaultCosineMaxBroadcastBytes)
      : AdmissionBatch = {
    val docs = batch.select(col("doc_id"), col("text"))
    val bsh = TrainingOps.shinglesOf(docs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bsig = TrainingOps.bandSignaturesOf(
        TrainingOps.minhashSignaturesOf(bsh))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ---- intra-batch keep-first near-dup (batch-bounded work) ----------
    val intraDrop = BandJoin.jaccard(TrainingOps.candidatePairsFromSigs(bsig),
        "doc_a", "doc_b", bsh, bsh)
      .filter(col("is_dup"))
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min("doc_a").as("intra_dropped_by"))

    // ---- index probe: batch ⋈ index on (band, band_sig) ----------------
    val batchSide = TrainingOps.sigBands(bsig, "batch_id")
    val cand = BandJoin.probe(batchSide,
        TrainingOps.sigBands(indexSigs, "corpus_id"), "batch_id", "corpus_id",
        BandJoin.sizeGate(batchSide.count() * TrainingOps.IncrSigRowBytes,
          maxBroadcastBytes))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // index shingles touched ONLY for candidate corpus docs
    val ish = indexSh.join(
      broadcast(cand.select(col("corpus_id").as("doc_id")).distinct()),
      Seq("doc_id"), "left_semi")
    val pairVerdicts = BandJoin.jaccard(cand, "batch_id", "corpus_id", bsh, ish)
    val agg = pairVerdicts.groupBy("batch_id").agg(
      count(lit(1)).as("n_candidates"),
      sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_matches"),
      min(when(col("is_dup"), col("corpus_id"))).as("corpus_match"))

    // ---- one verdict row per batch doc ---------------------------------
    val verdicts = docs.select("doc_id")
      .join(agg, col("doc_id") === col("batch_id"), "left")
      .join(intraDrop, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_dup_matches"), lit(0L)).as("n_dup_matches"),
        coalesce(col("corpus_match"), lit(-1L)).as("corpus_match"),
        coalesce(col("intra_dropped_by"), lit(-1L)).as("intra_dropped_by"),
        (coalesce(col("n_dup_matches"), lit(0L)) === 0 &&
          col("intra_dropped_by").isNull).as("admit"))
    val admittedIds = verdicts.filter(col("admit")).select("doc_id")
    val deltaSigs = bsig.join(admittedIds, Seq("doc_id"))
      .select("band", "band_sig", "doc_id")
    val deltaSh = bsh.join(admittedIds, Seq("doc_id"))
      .select("doc_id", "shh")
    AdmissionBatch(verdicts, deltaSigs, deltaSh,
      () => { bsh.unpersist(); bsig.unpersist(); cand.unpersist(); () })
  }

  /** [[admitBatch]] with the batch-side corpus gates composed IN FRONT —
    * the production ordering (CCNet/RefinedWeb shape): quality and
    * repetition are batch-bounded row-local checks, so they run BEFORE
    * any shingling and a gated-out doc never pays the index probe.
    * Verdicts gain `gate_reason` ∈ {quality, repetition, none}; gated
    * docs are never admitted and never extend the index (so a stream
    * can't be poisoned into rejecting future good docs by its own
    * rejected garbage). Survivors flow through the UNCHANGED kernel —
    * the spec asserts their verdicts are identical to ungated admission
    * of the passing subset.
    */
  def admitBatchGated(batch: DataFrame, indexSigs: DataFrame,
      indexSh: DataFrame,
      maxBroadcastBytes: Long = TrainingOps.DefaultCosineMaxBroadcastBytes)
      : AdmissionBatch = {
    val gates = TrainingOps.qualityScoresOf(batch)
      .select(col("doc_id"), (col("quality_score") >= 2).as("pass_q"))
      .join(TrainingOps.repetitionStatsOf(batch)
        .select(col("doc_id"), (!col("is_repetitive")).as("pass_r")),
        Seq("doc_id"))
      .select(col("doc_id"),
        when(!col("pass_q"), "quality")
          .when(!col("pass_r"), "repetition")
          .otherwise("none").as("gate_reason"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val passed = batch.join(
      gates.filter(col("gate_reason") === "none").select("doc_id"),
      Seq("doc_id"))
    val inner = admitBatch(passed, indexSigs, indexSh, maxBroadcastBytes)
    val gatedOut = gates.filter(col("gate_reason") =!= "none")
      .select(col("doc_id"), lit(0L).as("n_candidates"),
        lit(0L).as("n_dup_matches"), lit(-1L).as("corpus_match"),
        lit(-1L).as("intra_dropped_by"), lit(false).as("admit"),
        col("gate_reason"))
    val verdicts = inner.verdicts.withColumn("gate_reason", lit("none"))
      .unionByName(gatedOut)
    AdmissionBatch(verdicts, inner.deltaSigs, inner.deltaSh,
      () => { gates.unpersist(); inner.release() })
  }

  private def marker(workDir: String, batchId: Long) =
    Paths.get(workDir, s"commit_$batchId")

  /** Batch ids with a commit marker, ascending. */
  def committedBatches(workDir: String): Seq[Long] = {
    val d = Paths.get(workDir)
    if (!Files.exists(d)) Seq.empty
    else {
      val it = Files.list(d).iterator()
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (it.hasNext) {
        val name = it.next().getFileName.toString
        if (name.startsWith("commit_")) ids += name.stripPrefix("commit_").toLong
      }
      ids.sorted.toSeq
    }
  }

  /** The current index view: baseline parquet + every committed delta. */
  def indexView(spark: SparkSession, baselineDir: String, workDir: String,
      prefix: String): DataFrame = {
    val deltas = committedBatches(workDir)
      .map(id => s"$workDir/${prefix}_$id")
      .filter(p => Files.exists(Paths.get(p)))
    spark.read.parquet((baselineDir +: deltas): _*)
  }

  /** Start the admission stream: per micro-batch, admit against
    * baseline + committed deltas, write verdicts + this batch's delta,
    * then the commit marker (the atomic commit point — replays skip).
    *
    * @param baselineSigsDir parquet of (band, band_sig, doc_id)
    * @param baselineShDir   parquet of (doc_id, shh)
    * @param workDir         verdicts_<id>/sigs_<id>/sh_<id>/commit_<id>
    */
  def admissionStream(docs: Dataset[DocRow], baselineSigsDir: String,
      baselineShDir: String, workDir: String, checkpointDir: String,
      gated: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[DocRow], batchId: Long) =>
        if (!Files.exists(marker(workDir, batchId))) {
          val spark = batch.sparkSession
          Files.createDirectories(Paths.get(workDir))
          val idxSigs = indexView(spark, baselineSigsDir, workDir, "sigs")
          val idxSh = indexView(spark, baselineShDir, workDir, "sh")
          val ab =
            if (gated) admitBatchGated(batch.toDF(), idxSigs, idxSh)
            else admitBatch(batch.toDF(), idxSigs, idxSh)
          // overwrite: a crashed half-write without a marker is debris a
          // replay legitimately replaces
          try {
            ab.verdicts.write.mode("overwrite")
              .parquet(s"$workDir/verdicts_$batchId")
            ab.deltaSigs.write.mode("overwrite")
              .parquet(s"$workDir/sigs_$batchId")
            ab.deltaSh.write.mode("overwrite")
              .parquet(s"$workDir/sh_$batchId")
          } finally ab.release()
          Files.createFile(marker(workDir, batchId))
          ()
        }
      }
      .start()
  }

  /** All committed verdicts, with their batch id. */
  def readVerdicts(spark: SparkSession, workDir: String): DataFrame = {
    val parts = committedBatches(workDir).map { id =>
      spark.read.parquet(s"$workDir/verdicts_$id")
        .withColumn("batch_id", lit(id))
    }
    parts.reduceLeft(_.unionByName(_))
  }
}
