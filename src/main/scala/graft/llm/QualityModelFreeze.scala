package graft.llm

/** One-shot provenance tool for [[QualityModel.FrozenScorer]]: trains the
  * contrastive quality model on a given corpus and prints the Scorer as
  * copy-pasteable Scala literals (full `java.lang.Double.toString`
  * round-trip precision — the literals ARE the model, so every digit
  * matters). Usage:
  *   tools/run_verify.sh <sfDir> ignored   with GRAFT_MAIN=graft.llm.QualityModelFreeze
  */
object QualityModelFreeze {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Engine.local()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.Tables.documents(spark, sfDir)
    val s = QualityModel.trainContrastive(docs, "doc_id", "text")
    def fmt(xs: Seq[Double]): String =
      xs.map(_.toString).mkString("Seq(", ", ", ")")
    println("  val FrozenScorer: Scorer = Scorer(")
    println("    features = " +
      s.features.map("\"" + _ + "\"").mkString("Seq(", ", ", ") ,"))
    println("    mu = " + fmt(s.mu) + ",")
    println("    sigma = " + fmt(s.sigma) + ",")
    println("    weights = " + fmt(s.weights) + ",")
    println("    bias = " + s.bias + ")")
    spark.stop()
  }
}
