package graft.functions

import graft.functions.TextHash.P
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative higher-order-function formulations of the [[TextHash]]
  * kernels: the parity references TextKernelParitySpec compares the
  * codegen'd kernels against. */
object TextHashReference {

  /** HOF formulation of [[TextHash.polyHash]] (kept as the parity reference). */
  def polyHashHof(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (h, c) => (h * 31L + c) % P
    )

  /** HOF formulation of [[TextHash.tokenHashes]] (parity reference). */
  def tokenHashesHof(text: Column): Column =
    transform(TextHash.tokens(text), w => polyHashHof(w))

  /** HOF formulation of [[TextHash.shingleHashes]]: the distinct
    * positioned shingles (O(n·k) per row via k shifted zip_with views). */
  def shingleHashesHof(tokenHashes: Column, k: Int): Column =
    array_distinct(TextHash.positionedShingleHashes(tokenHashes, k))

  /** HOF formulation of [[TextHash.minhash]] (parity reference): ONE fold over the
    * shingle array computing all hash functions per element. */
  def minhashHof(shingles: Column, numHashes: Int): Column = {
    val init = array(Seq.fill(numHashes)(lit(P)): _*)
    aggregate(
      shingles,
      init,
      (acc, x) => {
        val hashes = array((0 until numHashes).map { i =>
          val a = 2654435761L % P * (2 * i + 1) % P
          val b = (40503L * (i + 1)) % P
          (x * a % P + b) % P
        }: _*)
        zip_with(acc, hashes, (m, h) => least(m, h))
      }
    )
  }
}
