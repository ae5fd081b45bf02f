package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.expressions.Aggregator

/** One-pass Poisson-bootstrap kernel (round 14, VERDICT r13 task 6):
  * the 50-resample bootstrap of stat_bootstrap_poisson as a single
  * partial-aggregatable fold over the base rows.
  *
  * The former shape exploded every base row 50× (sequence + explode →
  * 7.5M generator rows at sf0.1) and ran the two-round multiplicative
  * mixer as a 5-projection chain per exploded row before a groupBy(b)
  * hash aggregation. This kernel keeps the EXACT same arithmetic — the
  * identical mixer, thresholds, and rounding tree, verified term by
  * term in BootstrapPoissonSpec against the former formulation — but
  * folds all 50 resamples into one 50-slot buffer per task: no row
  * explosion, no generator, no 50-key hash probe per row, and the
  * full-table (n, Σx) aggregate rides the same pass instead of its own
  * aggregation subtree.
  *
  * Exactness / overflow posture: all accumulators are BIGINT. The
  * resample sums sb[b] ≤ 4·Σx (the Poisson weight is capped at 4), and
  * Σx in integer cents at TPCH-like scale is ~2.3e11·sf — at sf 1e5
  * (the 100 TB posture) 4·Σx ≈ 9e16, two orders of magnitude under
  * 2^63, the same headroom argument the query's mixer already
  * documents for its products. Means divide as doubles exactly like
  * the former Decimal path (integer-valued Decimal.toDouble and
  * Long.toDouble round identically), and the final rounding replicates
  * Spark's Round-on-double semantics (scala BigDecimal HALF_UP).
  */
object BootstrapPoisson {

  val Resamples = 50

  final case class Buf(nb: Array[Long], sb: Array[Long], n: Long, sx: Long)

  final case class CI(mean_full_micro: Long, ci_lo_micro: Long,
                      ci_hi_micro: Long)

  /** round(x, 0).cast(LongType) exactly as Spark evaluates it on a
    * DoubleType child: scala BigDecimal(double) (= java
    * BigDecimal.valueOf semantics) setScale(0, HALF_UP), back to
    * double, truncating cast.
    */
  private def roundToLong(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP)
      .toDouble.toLong

  /** Poisson(1) inverse-CDF weight from the two-round multiplicative
    * integer mixer — bit-identical to the former column tree:
    *   k  = okey*50 + b
    *   a1 = (k * 2654435761) % 2^31
    *   a2 = (((a1 div 1024 + a1) % 2^31) * 2246822519) % 2^31
    *   u  = (a2 div 64 + a2) % 1e6
    * All operands are non-negative, so Java %/ match SQL % and div.
    */
  def weight(okey: Long, b: Int): Long = {
    val k = okey * Resamples + b
    val a1 = (k * 2654435761L) % 2147483648L
    val a2 = (((a1 / 1024 + a1) % 2147483648L) * 2246822519L) % 2147483648L
    val u = (a2 / 64 + a2) % 1000000L
    if (u < 367879L) 0L
    else if (u < 735759L) 1L
    else if (u < 919699L) 2L
    else if (u < 981012L) 3L
    else 4L
  }

  val agg: Aggregator[(Long, Long), Buf, CI] =
    new Aggregator[(Long, Long), Buf, CI] {
      override def zero: Buf =
        Buf(new Array[Long](Resamples), new Array[Long](Resamples), 0L, 0L)

      override def reduce(buf: Buf, row: (Long, Long)): Buf = {
        val (okey, x) = row
        var b = 0
        while (b < Resamples) {
          val w = weight(okey, b)
          if (w != 0L) {
            buf.nb(b) += w
            buf.sb(b) += w * x
          }
          b += 1
        }
        Buf(buf.nb, buf.sb, buf.n + 1L, buf.sx + x)
      }

      override def merge(b1: Buf, b2: Buf): Buf = {
        var b = 0
        while (b < Resamples) {
          b1.nb(b) += b2.nb(b)
          b1.sb(b) += b2.sb(b)
          b += 1
        }
        Buf(b1.nb, b1.sb, b1.n + b2.n, b1.sx + b2.sx)
      }

      override def finish(r: Buf): CI = {
        // a 0/0 mean is the former query's NaN cast to 0: an empty
        // resample bucket (every weight 0), or an empty base, whose row
        // [[ci]] drops
        def meanMicro(sum: Long, n: Long): Long =
          if (n == 0L) 0L else roundToLong(sum.toDouble / n.toDouble * 1e4)
        // per-resample mean_micro, ranked by (mean_micro, b) exactly as
        // the former row_number window ordered by (mean_micro, b)
        val means = Array.tabulate(Resamples)(b => (meanMicro(r.sb(b), r.nb(b)), b))
        java.util.Arrays.sort(means, Ordering.Tuple2[Long, Int])
        CI(
          meanMicro(r.sx, r.n),
          means(1)._1,   // rk = 2
          means(48)._1)  // rk = 49
      }

      override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
      override def outputEncoder: Encoder[CI] = Encoders.product[CI]
    }

  /** Untyped-DataFrame entry: `bootstrapCI(col("okey"), col("x"))`. */
  def udafColumn: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(agg,
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))

  /** The CI of `base` (BIGINT columns `okey`, `x`) as one row of
    * `mean_full_micro, ci_lo_micro, ci_hi_micro` — zero rows when `base`
    * is empty, as the former groupBy(b) query returned (it had no groups).
    */
  def ci(base: DataFrame): DataFrame =
    base.agg(udafColumn(col("okey"), col("x")).as("r"), count(lit(1)).as("n"))
      .filter(col("n") > 0L)
      .select(col("r.mean_full_micro").as("mean_full_micro"),
        col("r.ci_lo_micro").as("ci_lo_micro"),
        col("r.ci_hi_micro").as("ci_hi_micro"))
}
