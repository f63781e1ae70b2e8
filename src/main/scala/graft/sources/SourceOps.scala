package graft.sources

import graft.{Op, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Driver entries for the ingest sources. JSONL round-trips through the
  * filesystem (write the documents table as JSONL + one injected corrupt
  * file, read it back through the quarantine split), so the entry
  * exercises the real parser path end-to-end. ORACLE-EXACT since r12
  * (VERDICT r11 #6): the oracle is a plain SELECT against the parquet
  * table — the round-tripped file bytes never reach DuckDB, but a hash
  * match on the PARSED rows proves value fidelity through JSON
  * escaping/typing end-to-end AND that exactly the injected corrupt
  * line was quarantined (the source_xml_ingest precedent).
  */
object SourceOps {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** A fresh directory for one build's round-trip files, deleted with
    * its contents when the JVM exits. The entries' results read these
    * files lazily, so a directory shared by two builds over one data
    * dir would let the second build's overwrite delete files the first
    * result still lists.
    */
  private def scratch(s: SparkSession, kind: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_${kind}_")
    val path = new org.apache.hadoop.fs.Path(dir.toUri)
    path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
    dir.toString
  }

  val ops: Seq[Op] = Seq(
    Op("source_jsonl_ingest",
       """SELECT doc_id, source, lang, text, n_chars,
         |       CAST(1 AS BIGINT) AS n_quarantined
         |FROM documents""".stripMargin) { (s, d) =>
      val out = scratch(s, "jsonl")
      Tables.documents(s, d).write.mode("overwrite").json(out)
      // one malformed line alongside the good parts — the quarantine path
      // must observe it without failing the read
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(out, "part-corrupt.json"),
        "{\"doc_id\": oops}\n")
      val (clean, quarantine) = Jsonl.readDocs(s, out, docSchema)
      clean.select("doc_id", "source", "lang", "text", "n_chars")
        .crossJoin(broadcast(
          quarantine.agg(count(lit(1)).as("n_quarantined"))))
    },

    // XML round trip with quarantine: documents rendered as one XML
    // element per line (to_xml flattened to the line framing), one
    // garbage line injected, read back through the from_xml quarantine
    // split. The oracle is a plain SELECT against the parquet table — a
    // hash match proves value fidelity through XML escaping/typing end
    // to end AND that exactly the injected line was quarantined.
    Op("source_xml_ingest",
       "SELECT doc_id, source, lang, text, n_chars FROM documents") {
      (s, d) =>
        val out = scratch(s, "xml")
        Tables.documents(s, d)
          .select(regexp_replace(
            to_xml(struct(col("doc_id"), col("text"), col("lang"),
              col("source"), col("n_chars"))),
            "\\n\\s*", "").as("value"))
          .write.mode("overwrite").text(out)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(out, "part-corrupt.txt"),
          "<row><doc_id>not a number</doc_id></row>\n")
        val (clean, _) = Xml.readRecords(s, out, docSchema)
        clean.select("doc_id", "source", "lang", "text", "n_chars")
    },

    // ORC round trip: the documents table written as ORC and read back.
    // The oracle is a plain SELECT against the PARQUET table — a hash
    // match therefore proves value fidelity through the second columnar
    // format end-to-end (types, nulls, unicode text), not just "rows
    // came back". ORC ships in Spark's classpath; it is the interchange
    // format a pipeline meets at warehouse boundaries.
    Op("source_orc_roundtrip",
       "SELECT doc_id, source, lang, text, n_chars FROM documents") {
      (s, d) =>
        val out = scratch(s, "orc")
        val cols = Seq("doc_id", "source", "lang", "text", "n_chars")
        Tables.documents(s, d).selectExpr(cols: _*)
          .write.mode("overwrite").orc(out)
        s.read.orc(out).selectExpr(cols: _*)
    },

    // Schema evolution: two parquet batches whose schemas drifted (the
    // second adds a `lang` column), read together with mergeSchema —
    // exactly what years of accumulated corpus drops look like. The
    // oracle recomputes the per-batch row and null-lang counts straight
    // from the documents table, so the hash match pins the merged-read
    // semantics: old rows surface with lang NULL, new rows keep theirs.
    Op("source_schema_evolution",
       """SELECT batch, count(*) AS n_rows,
         |       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_null_lang
         |FROM (
         |  SELECT CAST(doc_id % 2 AS INTEGER) AS batch,
         |         CASE WHEN doc_id % 2 = 0 THEN NULL ELSE lang END AS lang
         |  FROM documents)
         |GROUP BY 1""".stripMargin) { (s, d) =>
      val out = scratch(s, "evo")
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$out/b0")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"), col("lang"))
        .write.mode("overwrite").parquet(s"$out/b1")
      s.read.option("mergeSchema", "true").parquet(s"$out/b0", s"$out/b1")
        .select((col("doc_id") % 2).cast("int").as("batch"), col("lang"))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_null_lang"))
    },

    // Fixed-width ingest (the mainframe/COBOL copybook layout that
    // still feeds plenty of enterprise corpora): the documents table's
    // scalar columns serialized as rpad'd fixed-offset lines, read back
    // via spark.read.text + substring slicing — the full parser path,
    // no delimiter assumptions. The oracle SELECTs the same columns
    // straight from parquet, so the hash match proves the layout
    // round-trips values exactly (ids, identifiers, counts). text is
    // excluded: free text with newlines has no fixed-width encoding.
    // Slicing is pure substring/trim/cast — codegen'd, map-only,
    // predicate-pushdown-friendly once the lines are columnar.
    Op("source_fixedwidth_ingest",
       "SELECT doc_id, source, lang, n_chars FROM documents") { (s, d) =>
      val out = scratch(s, "fw")
      Tables.documents(s, d)
        .select(concat(
          rpad(col("doc_id").cast("string"), 12, " "),
          rpad(col("source"), 24, " "),
          rpad(col("lang"), 8, " "),
          rpad(col("n_chars").cast("string"), 12, " ")).as("value"))
        .write.mode("overwrite").text(out)
      s.read.text(out).select(
        rtrim(substring(col("value"), 1, 12)).cast("long").as("doc_id"),
        rtrim(substring(col("value"), 13, 24)).as("source"),
        rtrim(substring(col("value"), 37, 8)).as("lang"),
        rtrim(substring(col("value"), 45, 12)).cast("long").as("n_chars"))
    }
  )
}
