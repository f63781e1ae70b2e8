package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** The benchmark's JVM side: one workload in one session, closed-loop
  * passes from a cold JVM until the time is up (at least one). Writes one
  * JSON record with every pass and, when traced, every span, job and SQL
  * action; the arithmetic on them is done by perfbench/stats.py.
  *
  *   perfbench.Main --workload olist_elt|tpch22|corpus_funnel[+...]
  *     --input <dir> --work <dir> --out <file> --seconds <s> --trace 0|1
  *     --cores <n>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")

    val spark = graft.Engine.local(cores, "perfbench")
    val workload = Workload(opt("workload"), spark, opt("input"), work)
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val heap = ManagementFactory.getMemoryMXBean
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    def blockMb: Double = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0

    var last: Option[(Int, Done)] = None
    def runPass(k: Int, traced: Boolean, role: String): Map[String, Any] = {
      val t = if (traced) tracer else None
      t.foreach(_.attach())
      val (gc0, cpu0, start, t0) =
        (gcMs, os.getProcessCpuTime, Clock.nowMs, System.nanoTime())
      val out = Try(t match {
        case Some(tr) =>
          tr.span("pass", k.toString, 0)(id =>
            workload.pass(k, new Calls(t, id)))
        case None => workload.pass(k, new Calls(None, 0))
      })
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      val gcS = (gcMs - gc0) / 1e3
      val end = Clock.nowMs
      // not timed from here on
      t.foreach(_.detach())
      val blocks = blockMb
      val checked = out.flatMap(o => Try(o.digest()))
      out.foreach(o => last = Some(k -> o))
      // the first collection lets Spark's ContextCleaner see unreachable
      // shuffles and broadcasts; the second frees what it released
      System.gc()
      Thread.sleep(200)
      System.gc()
      val heapMb = heap.getHeapMemoryUsage.getUsed / 1048576.0
      Map("index" -> k, "role" -> role, "traced" -> traced,
        "start_ms" -> start, "end_ms" -> end,
        "wall_s" -> wallS, "cpu_s" -> cpuS, "gc_s" -> gcS,
        "heap_mb" -> heapMb, "blocks_mb" -> blocks,
        "ok" -> checked.isSuccess,
        "digest" -> checked.map(_._1).getOrElse(""),
        "facts" -> checked.map(_._2).getOrElse(Map.empty),
        "error" -> (checked match {
          case Failure(e) => e.toString
          case Success(_) => null
        }))
    }

    val setupEndMs = System.currentTimeMillis()

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    while (k == 0 || System.nanoTime() < deadline) {
      passes += runPass(k, traced = trace, "timed")
      k += 1
    }
    // traced runs then time a traced, an untraced and a traced pass (the
    // order cancels the warm-up trend) for the tracing overhead, and each
    // layer on its own; a pass starts only while the run is young enough
    // to end within its time limit
    def young = ManagementFactory.getRuntimeMXBean.getUptime < 110000L
    tracer.foreach { tr =>
      Seq(true, false, true).zipWithIndex.foreach { case (t, i) =>
        if (young) passes += runPass(k + i, traced = t, "overhead")
      }
      tr.attach()
      tr.span("layer", "layer", 0)(id =>
        workload.layerPass(new Calls(tracer, id)))
      tr.detach()
    }

    val answers = s"$work/answers"
    Files.createDirectories(Paths.get(answers))
    last.foreach(_._2.keep(answers))
    val oracle = {
      val all = graft.SparkEntry.oracleSql
      workload.oracleNames.map(n => n -> all(n)).toMap
    }
    val record = Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "setup_end_ms" -> setupEndMs, "passes" -> passes,
      "kept_pass" -> last.map(_._1), "answers" -> last.map(_ => answers),
      "oracle_sql" -> oracle,
      "spans" -> tracer.map(_.spanMaps).getOrElse(Nil),
      "jobs" -> tracer.map(_.jobMaps).getOrElse(Nil),
      "sql" -> tracer.map(_.sqlMaps).getOrElse(Nil))
    Files.write(Paths.get(opt("out")),
      Json.render(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
