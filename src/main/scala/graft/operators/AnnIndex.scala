package graft.operators

import graft.operators.TrainingOps._

/** One ANN index over the quantized embedding table, as a value with three
  * parts; [[TrainingOps.annTopK]] builds it into a plan.
  *
  * @param candidates which (query, corpus vector) pairs get scored
  * @param code       what each corpus vector stores and how a query scores it
  * @param rerank     optional exact re-rank depth R: the code's top R per
  *                   query are re-scored with the full vectors
  */
final case class AnnIndex(
    candidates: AnnIndex.Candidates = AnnIndex.AllVectors,
    code: AnnIndex.Code = AnnIndex.Flat,
    rerank: Option[Int] = None)

object AnnIndex {

  sealed trait Candidates

  /** Every corpus vector: brute force. */
  case object AllVectors extends Candidates

  /** Banded random-hyperplane LSH: the 16-bit sign signature split into
    * 4 bands of 4 bits. A corpus vector is a candidate when one of its band
    * values equals one of the query's probes for that band: the exact value
    * plus up to 4 Hamming-1 flips (`probesPerBand` in 1..5, the recall dial).
    */
  final case class Lsh(probesPerBand: Int = 5) extends Candidates

  /** IVF: centroids are the corpus vectors whose id is a `centroidStride`
    * multiple, optionally moved by `kmeansIters` Lloyd steps; each query
    * scores the lists of its max(nprobe, nlist/8) nearest centroids. The
    * probe side broadcasts while its estimated size fits
    * `maxProbeBroadcastBytes` and shuffle-hashes on centroid_id above it.
    */
  final case class Ivf(
      centroidStride: Long = IvfCentroidStride,
      nprobe: Int = IvfNProbe,
      kmeansIters: Int = 0,
      maxProbeBroadcastBytes: Long = DefaultIvfProbeMaxBroadcastBytes)
      extends Candidates

  sealed trait Code

  /** The full quantized vector. */
  case object Flat extends Code

  /** The first [[TrainingOps.MrlPrefixDims]] components: the Matryoshka
    * (MRL, Kusupati et al. 2022) coarse pass. The fixture embeddings are not
    * MRL-trained, so the measured recall is the floor a trained prefix
    * improves on.
    */
  case object Prefix extends Code

  /** 8 bits per dimension through one corpus-global affine map. */
  case object Sq8 extends Code

  /** PQ geometry: M subspaces × K codewords, codeword k sampled from the
    * corpus vector with id stride·(k+1).
    */
  final case class PqGrid(m: Int, k: Int, stride: Long)
  val PlainGrid: PqGrid = PqGrid(PqM, PqK, PqCodeStride)
  val ResidualGrid: PqGrid = PqGrid(ResPqM, ResPqK, ResPqCodeStride)

  /** Product-quantized codes over a [[PqGrid]]. */
  sealed trait PqCode extends Code {
    def grid: PqGrid
  }

  /** PQ codes of the vector itself, scored by ADC. */
  final case class Pq(grid: PqGrid = PlainGrid) extends PqCode

  /** PQ codes of the residual x − c(x) from the vector's IVF centroid, on
    * the [[ResidualGrid]], scored as the exact centroid dot plus the
    * residual's ADC; `kmeansIters` Lloyd steps refine the sampled
    * codebook. Needs [[Ivf]] candidates.
    */
  final case class ResidualPq(kmeansIters: Int = 0) extends PqCode {
    def grid: PqGrid = ResidualGrid
  }
}
