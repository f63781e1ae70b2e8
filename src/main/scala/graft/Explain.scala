package graft

/** Plan-audit tool: prints the formatted physical plan of one (or every)
  * SparkEntry query so join strategies, pushed filters, and codegen spans can
  * be inspected and iterated on. Usage:
  *
  *   sbt "runMain graft.Explain <queryName|all> [sfDir] [--no-broadcast]"
  *
  * `--no-broadcast` disables auto-broadcast + AQE to reveal the plan shape a
  * large cluster would use once dimension tables outgrow the broadcast
  * threshold (local SF data always fits, which would otherwise mask
  * scale-hostile join strategies).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("all")
    val sfDir = args.drop(1).headOption.filterNot(_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.01")
    val spark = Engine.local()
    if (args.contains("--no-broadcast")) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    }
    val targets =
      if (name == "all") SparkEntry.queries.keys.toSeq.sorted
      else Seq(name)
    targets.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
