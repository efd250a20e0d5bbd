package perfbench

import graft.core.CardinalitySketch
import graft.sql.UnsafeWyHash

import org.apache.commons.math3.distribution.NormalDistribution
import org.apache.spark.unsafe.types.UTF8String

/** Checks sketch estimates against exact distinct counts computed during
  * set-up.
  *
  * Groups with at most 128 distinct values are held in the exact Small and
  * Array modes, which deduplicate on the 31-bit encoded hash. Their estimate
  * must equal the exact count, unless two values of the group share an
  * encoded hash; a lower estimate is accepted only when a direct recount of
  * the group's distinct encoded hashes gives the same number.
  *
  * Larger groups are HLL estimates with relative standard error
  * sigma = 1.04 / sqrt(4096). One 3-sigma test has a 0.27% false-alarm rate,
  * so a run that checks hundreds of groups would fail on a correct sketch.
  * The limit is therefore z(k) * sigma, where z(k) keeps the chance that any
  * of the k checked groups of a correct sketch exceeds it at 1e-6; groups
  * past 3 sigma are still counted and reported.
  */
object Checks {
  val Sigma: Double = 1.04 / math.sqrt(4096)
  val ExactMax = 128

  final case class Result(relErrorMax: Double, over3Sigma: Int, collisions: Int, error: Option[String])

  /** Normal quantile z with P(|Z| > z) = alpha / k. */
  def zLimit(k: Int, alpha: Double = 1e-6): Double =
    new NormalDistribution(0, 1).inverseCumulativeProbability(1 - alpha / (2 * math.max(1, k)))

  /** Distinct 31-bit encoded hashes of `values` at the default p=12, w=6:
    * the count the exact modes can represent.
    */
  def encodedDistinct(values: Iterable[String]): Long =
    values.iterator.map { v =>
      CardinalitySketch.encodeHash(UnsafeWyHash.hashUTF8(UTF8String.fromString(v)), 12, 6)
    }.toSet.size.toLong

  def estimates[K](est: Map[K, Long], exact: Map[K, Long], recount: K => Long): Result = {
    if (est.keySet != exact.keySet)
      return Result(Double.NaN, 0, 0,
        Some(s"groups differ from the exact oracle: ${est.size} estimated vs ${exact.size} exact"))
    val hll = exact.count(_._2 > ExactMax)
    val limit = zLimit(hll) * Sigma
    var relMax = 0.0
    var over3 = 0
    var collisions = 0
    val bad = Seq.newBuilder[String]
    exact.foreach { case (k, n) =>
      val e = est(k)
      val rel = math.abs(e - n).toDouble / n
      relMax = math.max(relMax, rel)
      if (n <= ExactMax) {
        if (e != n) {
          if (e < n && recount(k) == e) collisions += 1
          else bad += s"$k: estimate $e, exact $n"
        }
      } else {
        if (rel > 3 * Sigma) over3 += 1
        if (rel > limit) bad += f"$k: estimate $e, exact $n, error $rel%.4f > $limit%.4f"
      }
    }
    val b = bad.result()
    Result(relMax, over3, collisions,
      if (b.isEmpty) None else Some(s"${b.size} groups out of bounds, e.g. ${b.take(3).mkString("; ")}"))
  }
}
