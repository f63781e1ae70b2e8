package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `icu_lower`/`icu_upper` are Spark's `lower`/`upper` byte for byte —
  * over every scalar code point and the strings where ICU's mapping is
  * context- or length-sensitive — under whole-stage codegen and under
  * the interpreted path.
  */
class CaseMapSpec extends SparkSpec {

  private def mismatches(df: DataFrame): Long =
    df.select(
        (GraftFunctions.icuLower(col("s")) <=> lower(col("s"))).as("lo"),
        (GraftFunctions.icuUpper(col("s")) <=> upper(col("s"))).as("up"))
      .filter(!col("lo") || !col("up"))
      .count()

  /** Every scalar code point U+0000–U+10FFFF (surrogates excluded), each
    * as a one-character string.
    */
  private def codePoints: DataFrame = {
    import spark.implicits._
    spark.range(0, Character.MAX_CODE_POINT + 1)
      .filter(col("id") < 0xD800 || col("id") > 0xDFFF)
      .map(cp => new String(Character.toChars(cp.toInt)))
      .toDF("s")
  }

  /** The strings where ICU's mapping is context-sensitive (final sigma),
    * locale-tinged (dotted İ), expanding (ß, ligatures) or title-case
    * (ǅ), plus a mixed line, invalid UTF-8, empty and NULL. Selected by
    * row id from an array literal, so the kernels run in generated code
    * (a local VALUES relation would be folded by the optimizer).
    */
  private def specials: DataFrame = {
    val strs = Seq("\u039f\u0394\u039f\u03a3 \u039f\u0394\u039f\u03a3",
        "\u0130stanbul", "Stra\u00dfe", "\u01c5", "\ufb00 \ufb01",
        "Caf\u00e9 au lait, \u00c9LAN vital \u2014 \u043c\u0438\u0440 42 gro\u00df",
        "").map(lit) ++
      Seq(unhex(lit("C328FF41")).cast("string"),
        unhex(lit("E282")).cast("string"), lit(null).cast("string"))
    spark.range(0, strs.size)
      .select(element_at(array(strs: _*), (col("id") + 1).cast("int")).as("s"))
  }

  private def underBothCodegenModes(body: => Unit): Unit = {
    body
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("icu_lower/icu_upper equal lower/upper on every scalar code point") {
    underBothCodegenModes {
      assert(codePoints.count() == 1112064L)
      assert(mismatches(codePoints) == 0L)
    }
  }

  test("icu_lower/icu_upper equal lower/upper on context-sensitive, " +
       "expanding, invalid-UTF-8, empty and NULL strings") {
    underBothCodegenModes {
      assert(mismatches(specials) == 0L)
      val r = spark.range(1).select(
          GraftFunctions.icuLower(lit(
            "\u039f\u0394\u039f\u03a3 \u039f\u0394\u039f\u03a3")),
          GraftFunctions.icuUpper(lit("Stra\u00dfe")),
          GraftFunctions.icuLower(lit(null).cast("string")))
        .head()
      // final sigma: each word's last Σ maps to ς
      assert(r.getString(0) == "\u03bf\u03b4\u03bf\u03c2 \u03bf\u03b4\u03bf\u03c2")
      assert(r.getString(1) == "STRASSE")
      assert(r.isNullAt(2))
    }
  }
}
