package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.TextAnalysis

/** The compiled [[graft.expressions.LangId]] (`detectLanguageCol`), the
  * composed HOF form it replaced (`detectLanguageHof`, the shape the
  * DuckDB mirror replays) and the scalar `detectLanguage` must agree on
  * every text: null, empty and whitespace-only input, leading tabs and
  * newlines (`trim` strips spaces only), NBSP (not `\s`), upper-case
  * non-ASCII (the `lower` kernel), the `ión`/`ció` profile trigrams,
  * CJK and astral-plane code points, and exact score ties between
  * profiles.
  */
class LangIdSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val grams = TextAnalysis.langProfiles.values.flatten.toSeq.distinct.sorted

  private val pieceGen: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf(grams),
    4 -> Gen.oneOf("the", "and", "de", "la", "que", "acción", "nación", "der", "die", "schön",
      "ein", "ung", "et", "le", "un", "ent"),
    3 -> Gen.oneOf("THE", "DIE", "ACCIÓN", "ÉCOLE", "İ", "ΣΑΣ", "ÀÉÎ", "Ω", "SS", "ß"),
    3 -> Gen.oneOf("中", "文字", "你好", "㐀", "🙂", "𠀀", "𝔸"),
    4 -> Gen.oneOf(" ", "  ", "\t", "\n", "\r\n", "\u000B", "\f", "\u00A0"),
    1 -> Gen.oneOf("12", ",", ".", "x"))

  private val textGen: Gen[String] = for {
    k <- Gen.chooseNum(0, 24)
    parts <- Gen.listOfN(k, pieceGen)
  } yield parts.mkString

  private val fixed: Seq[String] = Seq(
    null, "", " ", "   ", "\t", "\n\n", " \t\n ", "\u00A0",
    "\tthe and the", "\n de la que", "\u00A0the\u00A0and\u00A0",
    "ACCIÓN Y NACIÓN", "la nación y la acción", "die Kinder spielen",
    "中文", "中文 the and", "中 a", "🙂🙂中中", "𠀀𠀀中",
    "de", " de ", "le de la", "en", "12345 67890",
    "\u2C2F\uA7C0 THE AND", "İSTANBUL DE LA", "ΟΔΟΣ ΣΑΣ")

  private def samples(n: Int): Seq[String] =
    (1 to n).map(i => textGen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("property: LangId == HOF twin == scalar detectLanguage") {
    val texts = fixed ++ samples(400)
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .select(col("id"), col("text"),
        TextAnalysis.detectLanguageCol(col("text")).as("kernel"),
        TwinReference.detectLanguageHof(col("text")).as("hof"))
      .collect()
    assert(rows.length == texts.length)
    val langs = rows.map { r =>
      val text = r.getString(1)
      val (kernel, hof) = (r.getString(2), r.getString(3))
      val scalar = TextAnalysis.detectLanguage(text)
      assert(kernel == hof && kernel == scalar,
        s"id=${r.getLong(0)} text=${Option(text).map(_.map(c => f"\\u${c.toInt}%04x").mkString)}: " +
          s"kernel=$kernel hof=$hof scalar=$scalar")
      kernel
    }.toSet
    // the generator reaches every outcome, so agreement is not vacuous
    assert(langs == Set("de", "en", "es", "fr", "zh", "und"), langs)
  }

  test("ties go to the greatest language code; CJK share counts code points") {
    def one(t: String) = Seq(t).toDF("text")
      .select(TextAnalysis.detectLanguageCol(col("text"))).head().getString(0)
    // " de" and "de " score 2 for es and for fr (1 for de): fr wins the tie
    assert(one("de") == "fr")
    assert(TextAnalysis.detectLanguage("de") == "fr")
    // two astral (non-CJK) code points + two CJK: half the code points
    assert(one("🙂🙂中中") == "zh")
    assert(one("🙂🙂🙂中中") != "zh")
    assert(one(null) == "und")
  }

  test("graft_langid on the SQL surface is the LangId kernel") {
    GraftExtensions.register(spark)
    val df = spark.sql("SELECT graft_langid('la casa de la que hablamos') AS l, graft_langid(NULL) AS n")
    assert(df.head().getString(0) == "es" && df.head().getString(1) == "und")
    assert(!df.queryExecution.executedPlan.toString.contains("UDF"))
  }
}
