package graft

/** Benchmark main: per-query wall seconds plus a per-query execution
  * breakdown.
  *
  * Invariants:
  *   - Every query is fully materialized through the `noop` sink — a real
  *     write action that evaluates every output column on every row but
  *     discards the bytes (`count()` would let Catalyst prune projections).
  *   - An untimed warm-up pass runs every query once, so the timed passes
  *     measure steady-state work, not codegen/JIT/parquet-footer latency.
  *     The warm-up is the pass that is profiled: each query runs inside
  *     [[Instrumentation.measure]] there, so observation never touches a
  *     timing window.
  *   - SPARK_GRAFT_BENCH_PASSES (default 3) timed passes are interleaved
  *     (pass 1 runs every query, then pass 2, ...), so a GC or host hiccup
  *     lands on different queries in different passes; the record keeps
  *     each query's median, min and runs.
  *   - Every timing window starts from a quiet heap (see `quiesce`).
  *   - A query failure fails the bench (non-zero exit).
  *   - The LAST stdout line is a compact summary (total/unit/sf, no
  *     per-query map) that fits a 2000-char log tail; the full
  *     record, with `queries` and `detail`, is the line above it and
  *     SPARK_GRAFT_BENCH_OUT (default BENCH_LOCAL.json).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val spark = Engine.local()
    spark.sparkContext.setLogLevel("WARN")

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Outside the timers: drop every block the previous query left in the
    // block manager (persisted relations, cuts awaiting ContextCleaner) and
    // collect unconditionally, so no query's timing window pays for an
    // earlier query's garbage. Gating the GC on heap use lets whichever
    // allocation-heavy query runs furthest from the last collection absorb
    // everyone else's garbage, and its median stops reproducing.
    def quiesce(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }

    val benchStart = System.nanoTime()
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val profiles = names.map { n =>
      n -> Instrumentation.measure(spark)(materialize(n))._2
    }.toMap

    val runs = names.map(_ -> Vector.newBuilder[Double]).toMap
    (1 to passes).foreach { _ =>
      names.foreach { name =>
        quiesce()
        val t0 = System.nanoTime()
        materialize(name)
        runs(name) += (System.nanoTime() - t0) / 1e9
      }
    }

    def median(xs: Vector[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def fmt(d: Double): String = "%.6f".format(d)
    def profile(m: Instrumentation.RunMetrics): String = {
      val jobs = m.jobs.zip(m.gapsMs).map { case (j, gap) =>
        s"""{"site":${Verify.jsonString(j.site)},"gap_s":${fmt(gap / 1e3)},""" +
          s""""dur_s":${fmt(j.durationMs / 1e3)}}"""
      }.mkString("[", ",", "]")
      s""""warmup_s":${fmt((m.endMs - m.startMs) / 1e3)},""" +
        s""""jobs":${m.jobs.size},"small_jobs":${m.smallJobs},""" +
        s""""driver_gap_s":${fmt(m.driverGapS)},""" +
        s""""executor_cpu_s":${fmt(m.executorCpuS)},""" +
        s""""shuffle_read_bytes":${m.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${m.shuffleWriteBytes},""" +
        s""""disk_spill_bytes":${m.diskSpillBytes},""" +
        s""""memory_spill_bytes":${m.memorySpillBytes},""" +
        s""""shuffle_write_skew":${fmt(m.shuffleWriteSkew)},"job_list":$jobs"""
    }
    val med = names.map(n => n -> median(runs(n).result()))
    val qs = med.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val detail = names.map { n =>
      val r = runs(n).result()
      "\"" + n + "\":{\"median\":" + fmt(median(r)) + ",\"min\":" + fmt(r.min) +
        ",\"runs\":[" + r.map(fmt).mkString(",") + "]," +
        profile(profiles(n)) + "}"
    }.mkString("{", ",", "}")
    val total = med.map(_._2).sum
    val wall = (System.nanoTime() - benchStart) / 1e9
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${names.size},"passes":$passes,"wall_sec":${fmt(wall)},"sf":"$sfDir"}"""
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"passes":$passes,"wall_sec":${fmt(wall)},"detail":$detail,"sf":"$sfDir"}"""
    // the full record first: if a bounded log tail cuts a line, it must
    // be this one, not the compact line that follows
    println(full)
    println(compact)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), full + "\n")
    spark.stop()
  }
}
