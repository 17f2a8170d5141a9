package graft

import graft.text.{TextFeatures, TextFeaturesReference}
import org.apache.spark.sql.functions._

/** The codegen langid kernel (one hash-map probe per token) must equal the
  * HOF `size(filter(toks, lower(w).isin(…)))` chain the DuckDB oracle
  * mirrors — per language count AND argmax — on mixed-case, multi-space,
  * multi-language, shared-stopword ("la"/"que"/"und"), non-ASCII, and
  * empty inputs. */
class LangIdParitySpec extends SparkSpec {

  import spark.implicits._

  private val fixtures = Seq(
    (1L, "the quick fox and the lazy dog"),
    (2L, "THE Quick FOX And tHe lazy dog"), // case-insensitive hits
    (3L, "der baum und die blume ist nicht von zu"),
    (4L, "le chat est la pour que une des"),
    (5L, "el gato y la casa que es por una"),
    (6L, "la la la que que und"), // shared stopwords hit fr AND es; 'und' hits de
    (7L, "नमस्ते 你好 мир"), // nothing matches → und
    (8L, ""),
    (9L, "   the\t\tof\nand   "), // \s classes + repeated whitespace
    (10L, "ＴＨＥ Ｏｆ ｉｓ"), // fullwidth: lower() maps to fullwidth lower ≠ ascii stopword
    (11L, "İstanbul DIE La Y") // non-ASCII upper + mixed-case hits
  ).toDF("doc_id", "text")

  test("kernel == HOF parity on every language count and the argmax") {
    val cols = TextFeatures.StopwordProfiles.map { case (l, _) => col(s"hits_$l") } :+ col("lang_pred")
    val k = TextFeatures.withLangId(fixtures).select(col("doc_id") +: cols: _*)
    val h = TextFeaturesReference.withLangIdHof(fixtures).select(col("doc_id") +: cols: _*)
    assert(k.exceptAll(h).count() == 0 && h.exceptAll(k).count() == 0,
      s"kernel:\n${k.collect().mkString("\n")}\nhof:\n${h.collect().mkString("\n")}")
  }

  test("spot values: shared stopwords count for BOTH languages, ties keep earlier lang") {
    val r = TextFeatures.withLangId(fixtures).where(col("doc_id") === 6)
      .select("hits_en", "hits_de", "hits_fr", "hits_es", "lang_pred").first()
    // "la la la que que und": fr gets la×3 + que×2 = 5, es the same 5, de gets und
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)) ==
      ((0, 1, 5, 5, "fr")))
    val und = TextFeatures.withLangId(fixtures).where(col("doc_id").isin(7L, 8L))
      .select("lang_pred").as[String].collect()
    assert(und.forall(_ == "und"))
  }

  test("randomized parity: seeded word soup drawn from all profiles + noise") {
    val words = TextFeatures.StopwordProfiles.flatMap(_._2) ++
      Seq("zzz", "Paris", "TOKEN", "λx", "42")
    val rnd = new scala.util.Random(42)
    val docs = (0 until 200).map { i =>
      val n = rnd.nextInt(30)
      val ws = (0 until n).map { _ =>
        val w = words(rnd.nextInt(words.length))
        if (rnd.nextBoolean()) w.toUpperCase else w
      }
      (i.toLong, ws.mkString(" "))
    }.toDF("doc_id", "text")
    val cols = TextFeatures.StopwordProfiles.map { case (l, _) => col(s"hits_$l") } :+ col("lang_pred")
    val k = TextFeatures.withLangId(docs).select(col("doc_id") +: cols: _*)
    val h = TextFeaturesReference.withLangIdHof(docs).select(col("doc_id") +: cols: _*)
    assert(k.exceptAll(h).count() == 0 && h.exceptAll(k).count() == 0)
  }
}
