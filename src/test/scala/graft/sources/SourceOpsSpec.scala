package graft.sources

import graft.{SparkEntry, SparkSpec, Tables}

/** The round-trip source entries return results that read their written
  * files lazily, so every build needs files no other build touches: a
  * second build over the same data dir must not delete what the first
  * result still lists.
  */
class SourceOpsSpec extends SparkSpec {

  private val cols = Seq("doc_id", "source", "lang", "text", "n_chars")

  private lazy val dataDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sources")
    Seq((1L, "plain text", "en", "web", 10L),
        (2L, "a <tag> & \"quotes\"", "de", "books", 20L),
        (3L, "zwölf Boxkämpfer", "de", "web", 16L),
        (4L, "second line", "en", "code", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir.resolve("documents.parquet").toString)
    dir.toString
  }

  for (name <- Seq("source_orc_roundtrip", "source_xml_ingest"))
    test(s"$name: two builds over one data dir both read back the " +
         "documents") {
      val first = SparkEntry.queries(name)(spark, dataDir)
      val second = SparkEntry.queries(name)(spark, dataDir)
      val docs = Tables.documents(spark, dataDir).selectExpr(cols: _*)
      // the first result is read only now, after the second build wrote
      for ((df, which) <- Seq(first -> "first", second -> "second")) {
        val got = df.selectExpr(cols: _*)
        assert(got.count() == 4, s"$which build's row count")
        assert(got.exceptAll(docs).isEmpty && docs.exceptAll(got).isEmpty,
          s"$which build's rows differ from the documents columns")
      }
    }
}
