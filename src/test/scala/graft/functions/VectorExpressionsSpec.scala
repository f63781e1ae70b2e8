package graft.functions

import graft.SparkSpec
import graft.llm.Similarity
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {

  private def vecs = {
    import spark.implicits._
    graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  }

  test("the whole native family is registered by the session extension " +
       "and callable from SQL") {
    Seq("vec_cosine", "vec_dot", "vec_norm", "minhash_md5", "minhash_xx",
      "minwindow_md5", "simhash_md5", "simhash_xx", "icu_lower",
      "icu_upper").foreach { f =>
      assert(spark.catalog.functionExists(f), f)
    }
    // SQL-surface smoke: a consumer with only the SQL API can use them
    val r = spark.sql(
      """SELECT simhash_xx(array('a', 'b')) AS s,
        |       minwindow_md5('hello world!', 8) AS w,
        |       element_at(minhash_md5(array('x'), 8), 1) AS m""".stripMargin)
      .head()
    assert(r.getLong(0) != 0L)
    assert(r.getString(1).length == 32 && r.getString(2).length == 4)
  }

  test("the token-array and string kernels reject a wrong-typed input " +
       "at analysis") {
    Seq("minhash_md5(array(1, 2), 8)", "minhash_xx(array(1, 2), 8)",
      "simhash_md5(array(1, 2))", "simhash_xx('a b')",
      "token_shingles(array(1L), 3)", "windows_with_pos('a b', 2)",
      "minwindow_md5(array('a'), 8)", "winnow_fps(42, 4, 3)",
      "icu_lower(42)", "icu_upper(array('a'))").foreach { e =>
      val err = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $e").collect())
      assert(err.getMessage.contains("input must be"), s"$e: ${err.getMessage}")
    }
  }

  test("native vec_cosine is bit-identical to the composed fold form") {
    val a = vecs.toDF("ida", "va")
    val b = vecs.toDF("idb", "vb")
    val pairs = a.join(b, col("ida") =!= col("idb")).limit(2000)
    val diff = pairs.select(
        Similarity.cosine(col("va"), col("vb")).as("native"),
        Similarity.cosineComposed(col("va"), col("vb")).as("composed"))
      .filter(col("native") =!= col("composed"))
      .count()
    assert(diff == 0)
  }

  test("interpreted eval path matches codegen (nullSafeEval vs doGenCode)") {
    // force the interpreted path by disabling whole-stage codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = vecs.limit(10)
        .select(Similarity.cosine(col("v"), col("v")).as("c")).collect()
      assert(interpreted.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("vec_dot and vec_norm match their composed forms bit-for-bit, and " +
       "cosine == dot/(norm*norm)") {
    assert(spark.catalog.functionExists("vec_dot"))
    assert(spark.catalog.functionExists("vec_norm"))
    val a = vecs.toDF("ida", "va")
    val b = vecs.toDF("idb", "vb")
    val pairs = a.join(b, col("ida") =!= col("idb")).limit(1000)
    val bad = pairs.select(
        GraftFunctions.vecDot(col("va"), col("vb")).as("ndot"),
        Similarity.dot(col("va"), col("vb")).as("cdot"),
        GraftFunctions.vecNorm(col("va")).as("nnorm"),
        Similarity.l2norm(col("va")).as("cnorm"),
        GraftFunctions.vecCosine(col("va"), col("vb")).as("ncos"),
        (GraftFunctions.vecDot(col("va"), col("vb")) /
          (GraftFunctions.vecNorm(col("va")) *
            GraftFunctions.vecNorm(col("vb")))).as("reconstructed"))
      .filter(col("ndot") =!= col("cdot") || col("nnorm") =!= col("cnorm") ||
        col("ncos") =!= col("reconstructed"))
      .count()
    assert(bad == 0)
  }

  test("null input propagates to null result") {
    import spark.implicits._
    val df = Seq((Some(Seq(1.0, 2.0)), None: Option[Seq[Double]]))
      .toDF("a", "b")
    val out = df.select(GraftFunctions.vecCosine(col("a"), col("b"))).head()
    assert(out.isNullAt(0))
  }

  test("type mismatch is rejected at analysis time") {
    import spark.implicits._
    val df = Seq((Seq(1.0), "not a vector")).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(GraftFunctions.vecCosine(col("a"), col("b"))).head()
    }
  }

  test("deflate_len: repetitive text compresses far below shuffled text, " +
       "ratio is deterministic, and SQL registration works") {
    import spark.implicits._
    val repeated = ("lorem ipsum " * 200).trim
    // same characters, de-correlated: md5-shuffle the words
    val shuffled = repeated.split(" ")
      .zipWithIndex
      .sortBy { case (w, i) =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$i:$w".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString }
      .map(_._1).mkString(" ")
    val df = Seq(("rep", repeated), ("shuf", shuffled), ("tiny", "abc"))
      .toDF("k", "text")
    val out = df.select(col("k"),
        GraftFunctions.deflateLen(col("text")).as("dl"),
        octet_length(col("text")).as("n"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    // 200 copies of one bigram deflate to a sliver of the original
    assert(out("rep")._1 * 10 < out("rep")._2,
      s"repetition should compress 10x+: ${out("rep")}")
    assert(out("rep")._1 < out("shuf")._1,
      "deflate must see repetition the shuffle destroyed")
    // stable across evaluation (interpreted vs codegen paths agree too)
    val again = df.selectExpr("deflate_len(text) AS dl").collect()
      .map(_.getInt(0)).toSeq
    assert(again == df.select(GraftFunctions.deflateLen(col("text")))
      .collect().map(_.getInt(0)).toSeq)
    // null propagates
    assert(Seq((None: Option[String], 1)).toDF("text", "i")
      .selectExpr("deflate_len(text)").head().isNullAt(0))
  }
}
