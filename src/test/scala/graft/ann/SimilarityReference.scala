package graft.ann

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative higher-order-function formulation of the codegen'd LSH
  * bucket kernel: the parity reference Round2Spec compares it against. */
object SimilarityReference {

  /** Declarative HOF formulation of [[Similarity.lshBucket]]. */
  def lshBucketHof(vec: Column, planes: Int): Column = {
    val P = graft.functions.TextHash.P
    val bits = (0 until planes).map { p =>
      val a = lit(506952114L * (2 * p + 1) % P)
      val b = lit((40503L * (p + 1)) % P)
      val s = aggregate(
        zip_with(vec, sequence(lit(1), size(vec)), (x, i) => {
          val h = (i.cast("long") * 506952114L % P * a % P + b) % P
          x.cast("double") * (h.cast("double") / 2147483647.0 - 0.5)
        }),
        lit(0.0),
        (acc, v) => acc + v
      )
      when(s > 0.0, 1L << p).otherwise(0L)
    }
    bits.reduce(_ + _)
  }
}
