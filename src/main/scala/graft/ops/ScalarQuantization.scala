package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.VectorExpressions

/** Scalar quantization (SQ8) for the vector-search family: one byte per
  * dimension on a per-dimension [min, max] grid. The middle point on the
  * compression/recall curve the engine now covers end to end:
  *
  *   - raw floats (dim * 4 B/row)  — exact, [[SimilaritySearch.topK]];
  *   - SQ8        (dim * 1 B/row)  — 4x smaller scan, near-lossless ADC;
  *   - PQ         (m B/row)        — 16x+ smaller, coarse ADC + refine.
  *
  * At 100 TB the scan working set is the cost driver, and SQ8 buys the 4x
  * with distortion bounded by step/2 per dimension — on unit-norm
  * embeddings that keeps ADC ranking agreeing with exact ranking far
  * deeper than PQ's subspace codebooks, so the exact re-rank can use a
  * much shallower `refine`. Train is ONE `treeAggregate` pass (elementwise
  * min/max — 2·dim floats to the driver, nothing else); there is no
  * iteration, which also makes the model deterministic with no seed.
  *
  * The reference's managed index (auschoi96 NB:315-323) exposes no
  * quantization knob; this is the §2.4 scale surface, same family as
  * [[SimilaritySearch.pqTrain]]. Search runs through the shared
  * [[SimilaritySearch.Quantizer]] paths; this object holds only the grid
  * and its training.
  */
object ScalarQuantization {

  /** Per-dimension grid: `code = round((x - min) / step)`, step =
    * (max - min) / 255. A constant dimension has step 0 and is lossless. */
  case class SqModel(mins: Array[Float], steps: Array[Float])
      extends SimilaritySearch.Quantizer {
    require(mins.length == steps.length, "sq model: mins/steps mismatch")
    def dim: Int = mins.length
    def codeCol: String = "sq_code"
    def certifiedRefine: Int = SimilaritySearch.SqRefineCertified
    def encode(vec: Column): Column =
      VectorExpressions.sqEncode(vec, mins, steps)
    def adcScore(code: Column, query: Array[Float]): Column = {
      val (scaled, bias) = queryFactors(query)
      VectorExpressions.sqAdcDot(code, scaled, bias)
    }
    /** `[scaled.., bias]` per query, bit-identical to [[queryFactors]]. */
    def queryLut(vec: Column): Column =
      VectorExpressions.sqFactors(vec, mins, steps)
    def adcScoreLut(code: Column, lut: Column): Column =
      VectorExpressions.sqAdcDotLut(code, lut)

    /** Driver-side per-query ADC factors: `score = bias + sum scaled_i *
      * code_i` equals the dot product against the dequantized vector. */
    def queryFactors(query: Array[Float]): (Array[Double], Double) = {
      require(query.length == dim,
        s"sq queryFactors: query dim ${query.length} != model dim $dim")
      val scaled = new Array[Double](dim)
      var bias = 0.0
      var i = 0
      while (i < dim) {
        scaled(i) = query(i).toDouble * steps(i)
        bias += query(i).toDouble * mins(i)
        i += 1
      }
      (scaled, bias)
    }
  }

  /** Fit the grid: one distributed elementwise min/max pass over the full
    * corpus (no sampling — extremes are exactly what a grid must see; a
    * sampled max would clip outliers to the grid edge). Only 2·dim floats
    * visit the driver. */
  def sqTrain(corpus: DataFrame, vecCol: String): SqModel = {
    val dimRow = corpus.select(size(col(vecCol))).head()
    val dim = dimRow.getInt(0)
    require(dim > 0, "sqTrain: empty vectors")
    val (mins, maxs) = corpus.select(col(vecCol)).rdd
      .map(_.getSeq[Float](0).toArray)
      .treeAggregate(
        (Array.fill(dim)(Float.PositiveInfinity),
          Array.fill(dim)(Float.NegativeInfinity)))(
        seqOp = { case ((lo, hi), v) =>
          if (v.length != dim) throw new IllegalArgumentException(
            s"sqTrain: ragged corpus — vector dim ${v.length} != $dim")
          var i = 0
          while (i < dim) {
            if (v(i) < lo(i)) lo(i) = v(i)
            if (v(i) > hi(i)) hi(i) = v(i)
            i += 1
          }
          (lo, hi)
        },
        combOp = { case ((lo1, hi1), (lo2, hi2)) =>
          var i = 0
          while (i < dim) {
            if (lo2(i) < lo1(i)) lo1(i) = lo2(i)
            if (hi2(i) > hi1(i)) hi1(i) = hi2(i)
            i += 1
          }
          (lo1, hi1)
        })
    val steps = Array.tabulate(dim)(i => (maxs(i) - mins(i)) / 255f)
    SqModel(mins, steps)
  }
}
