package graft.text

import graft.functions.TextHash
import graft.text.TextFeatures.{StopwordProfiles, argmaxLang}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative higher-order-function formulations of the codegen'd
  * [[TextFeatures]] operators: the parity references LangIdParitySpec and
  * TextKernelParitySpec compare them against. */
object TextFeaturesReference {

  /** Hits of `words` among the tokens (case-insensitive). */
  def langScore(toks: Column, words: Seq[String]): Column =
    if (words.isEmpty) lit(0)
    else size(filter(toks, w => lower(w).isin(words.map(lit(_)): _*)))

  /** HOF formulation of [[TextFeatures.withLangId]] (the exact
    * `size(filter(toks, lower(w).isin(…)))` chain the DuckDB oracle
    * mirrors). */
  def withLangIdHof(df: DataFrame, text: String = "text"): DataFrame = {
    val toks = TextHash.tokens(col(text))
    val scored = StopwordProfiles.foldLeft(df.withColumn("_toks", toks)) { case (acc, (l, ws)) =>
      acc.withColumn(s"hits_$l", langScore(col("_toks"), ws))
    }
    scored.withColumn("lang_pred", argmaxLang).drop("_toks")
  }

  /** Max run length over a SORTED array = the highest element frequency —
    * one fold, no map state. */
  private def maxFreq(sorted: Column): Column =
    aggregate(
      sorted,
      struct(lit(Long.MinValue).as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"), greatest(acc("best"), run).as("best"))
      },
      acc => acc("best"))

  /** HOF formulation of [[TextFeatures.withRepetition]]. */
  def withRepetitionHof(df: DataFrame, text: String = "text"): DataFrame = {
    val th = TextHash.tokenHashes(col(text))
    def gramFracs(k: Int): (Column, Column) = {
      val grams = TextHash.positionedShingleHashes(th, k)
      val n = size(grams).cast("double")
      val dup = when(size(grams) > 0,
        (size(grams) - size(array_distinct(grams))).cast("double") / n).otherwise(0.0)
      val top = when(size(grams) > 0,
        maxFreq(array_sort(grams)).cast("double") / n).otherwise(0.0)
      (dup, top)
    }
    val (dup2, top2) = gramFracs(2)
    val (dup3, _) = gramFracs(3)
    df.withColumn("dup_2gram_frac", dup2)
      .withColumn("dup_3gram_frac", dup3)
      .withColumn("top_2gram_frac", top2)
  }
}
