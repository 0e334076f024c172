package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Random-hyperplane LSH bucket ids for a vector: `nBands` independent
  * bands of `nPlanes` sign bits each, returned as array<long> (position =
  * band id).
  *
  * The Column-level formulation inlined nBands × nPlanes hyperplanes as
  * 64-element array LITERALS into the plan — ~100 giant constants per
  * reference, bloating analysis/codegen by seconds of fixed cost per query
  * (twice, for self-join branches). Here the plane matrix is generated
  * deterministically from (nBands, nPlanes, dim, seed) and CACHED per
  * executor; the plan carries only the four scalars.
  *
  * Plane components are ENGINE-PORTABLE md5 draws (see
  * [[graft.functions.md5Unit52]]): component (band, p, d) =
  * md5Unit52("rhp:seed:band:p:d") − 0.5, a uniform in [−0.5, 0.5) a DuckDB
  * oracle regenerates exactly (`('0x' || substring(md5(key),1,13))::BIGINT
  * / 2^52 − 0.5`) — so bucket ids, and therefore the sim2/sim3/sim4 ANN
  * CANDIDATE SETS, are hash-checkable cross-engine, not just recall-gated.
  * Uniform-cube directions are not perfectly spherically symmetric the way
  * the Gaussian draw they replaced was, but sign-hash LSH only needs a
  * symmetric direction distribution; the measured recall floors in
  * SimilaritySpec hold unchanged.
  */
case class RhpBuckets(
    child: Expression, nBands: Int, nPlanes: Int, dim: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rhp_buckets"

  override protected def nullSafeEval(input: Any): Any =
    RhpBuckets.compute(input.asInstanceOf[ArrayData], nBands, nPlanes, dim, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RhpBuckets.compute($c, $nBands, $nPlanes, $dim, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): RhpBuckets =
    copy(child = newChild)
}

object RhpBuckets {
  /** Stamped into persisted-index specs: the plane
    * FORMULA is part of an index artifact's identity (the expression tree
    * `rhp_buckets(v, 1, p, d, s)` prints identically across formula
    * changes, so the canonicalized plan alone would serve stale cells
    * hashed under an older derivation).
    */
  final val FormulaVersion = "rhp:md5u52-v2"

  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int, Long), Array[Array[Double]]]()

  /** band-major matrix: planes(band * nPlanes + p)(d). Shared with
    * [[RhpProbes]] so a single-band bucket and the probe sequence are
    * computed against the IDENTICAL hyperplanes. Component derivation must
    * never drift from the oracle SQL twin in
    * [[graft.operators.Similarity.planesSql]].
    */
  private[functions] def planes(nBands: Int, nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] =
    planeCache.computeIfAbsent((nBands, nPlanes, dim, seed), _ => {
      val out = Array.ofDim[Array[Double]](nBands * nPlanes)
      var b = 0
      while (b < nBands) {
        var p = 0
        while (p < nPlanes) {
          val v = new Array[Double](dim)
          var d = 0
          while (d < dim) {
            v(d) = graft.functions.md5Unit52(s"rhp:$seed:$b:$p:$d") - 0.5
            d += 1
          }
          out(b * nPlanes + p) = v
          p += 1
        }
        b += 1
      }
      out
    })

  def compute(vec: ArrayData, nBands: Int, nPlanes: Int, dim: Int, seed: Long): ArrayData = {
    val ps = planes(nBands, nPlanes, dim, seed)
    val n = math.min(vec.numElements(), dim)
    val buckets = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        val plane = ps(b * nPlanes + p)
        var s = 0.0
        var d = 0
        while (d < n) { s += vec.getDouble(d) * plane(d); d += 1 }
        if (s >= 0) bucket |= (1L << p)
        p += 1
      }
      buckets(b) = bucket
      b += 1
    }
    new GenericArrayData(buckets)
  }
}
