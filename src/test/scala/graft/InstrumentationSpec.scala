package graft

import org.apache.spark.sql.functions._

/** Runtime metrics must confirm what the plan assertions only promise:
  * aggregations move bytes through a shuffle, map-only pipelines move
  * none — measured from actual task metrics, not the plan.
  */
class InstrumentationSpec extends SparkSpec {

  test("a groupBy shuffles bytes; a map-only pipeline shuffles none") {
    import spark.implicits._
    val df = (1L to 200000L).toDF("id")
      .withColumn("k", col("id") % 1000)
    val (nAgg, withShuffle) = Instrumentation.measure(spark) {
      df.groupBy("k").agg(sum("id")).count()
    }
    assert(nAgg == 1000L)
    assert(withShuffle.shuffleWriteBytes > 0,
      s"groupBy must shuffle: $withShuffle")
    assert(withShuffle.tasks > 0 && withShuffle.stages >= 2)

    val (nMap, noShuffle) = Instrumentation.measure(spark) {
      df.filter(col("id") % 2 === 0)
        .select(col("id") * 3).count()
    }
    assert(nMap == 100000L)
    // count() plans a final single-partition agg over per-partition
    // counts — a handful of tiny rows; DATA must not have shuffled
    assert(noShuffle.shuffleWriteBytes < 10000,
      s"map-only pipeline moved data: $noShuffle")
  }

  test("job records: each action's jobs with bus timestamps, the " +
       "submitting call site, executor CPU and the driver gap") {
    import spark.implicits._
    val df = (1L to 200000L).toDF("id").withColumn("k", col("id") % 97)
    val (n, m) = Instrumentation.measure(spark) {
      df.groupBy("k").count().count() + df.filter(col("k") === 3).count()
    }
    assert(n == 97L + df.filter(col("k") === 3).count())
    assert(m.jobs.size >= 2, m.jobs)
    assert(m.jobs.forall(j => j.endMs >= j.startMs), m.jobs)
    assert(m.jobs.forall(_.site.contains("InstrumentationSpec.scala")),
      m.jobs.map(_.site))
    assert(m.jobs.forall(j => j.startMs >= m.startMs && j.endMs <= m.endMs))
    assert(m.gapsMs.size == m.jobs.size && m.gapsMs.forall(_ >= 0))
    assert(m.driverGapS >= 0.0 && m.driverGapS <= (m.endMs - m.startMs) / 1e3)
    assert(m.smallJobs <= m.jobs.size)
    assert(m.executorCpuS > 0.0, m)
  }

  test("codegen compiles: an action over a new projection counts at " +
       "least one") {
    // a fresh literal makes the generated code text new, so the codegen
    // cache cannot serve it
    val k = System.nanoTime()
    val (_, m) = Instrumentation.measure(spark) {
      spark.range(10).select((col("id") * lit(k) + lit(k % 7)).as("x"))
        .collect()
    }
    assert(m.codegenCompiles >= 1, m)
  }

  test("codegen compiles: a new query's class compiles once, not once " +
       "on the driver and again in its tasks") {
    // each query first runs with other literals, which caches the classes
    // that hold none; the measured run's literals are new, so exactly the
    // one class that holds them is new to the cache
    def project(k: Long) =
      spark.range(0, 100, 1, 4).select(col("id") * lit(k)).collect()
    def aggregate(k: Long) =
      spark.range(0, 100, 1, 4).groupBy(col("id") % lit(k % 1000 + 2))
        .agg(sum(col("id") * lit(k))).collect()
    val k = System.nanoTime()
    project(k + 1)
    val (_, oneStage) = Instrumentation.measure(spark)(project(k))
    assert(oneStage.codegenCompiles == 1, oneStage)
    aggregate(k + 1)
    val (_, twoStages) = Instrumentation.measure(spark)(aggregate(k))
    assert(twoStages.stages >= 2 && twoStages.codegenCompiles == 1, twoStages)
  }

  test("epochUpsample is runtime-map-side: the claimed no-shuffle shape " +
       "holds in task metrics, not just the plan") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val (_, m) = Instrumentation.measure(spark) {
      graft.llm.Mixing.epochUpsample(docs, "doc_id", "source",
        Map("src0" -> 2.5), defaultEpochs = 0.75).count()
    }
    assert(m.shuffleWriteBytes < 10000, m.toString)
    assert(m.inputRecords > 0)
  }

  test("shuffle skew signal: a single hot key concentrates write bytes " +
       "in one task") {
    import spark.implicits._
    val skewed = (1L to 100000L).toDF("id")
      .withColumn("k", lit(0L)) // every row the same key
      .repartition(8)
    val (_, m) = Instrumentation.measure(spark) {
      skewed.withColumn("v", col("id") * 7)
        .repartition(col("k")).count()  // force a key shuffle of all rows
    }
    assert(m.shuffleWriteBytes > 0)
    // 8 upstream tasks each write their slice to ONE reducer partition:
    // write-side balance, read-side concentration — assert the read side
    assert(m.shuffleReadBytes >= m.shuffleWriteBytes, m.toString)
  }

  test("Poisson bootstrap's 32x fanout collapses map-side: the shuffle " +
       "carries replicate partials, not the fanned row stream") {
    val sf = "/root/testdata/sf0.01"
    val (rows, m) = Instrumentation.measure(spark) {
      SparkEntry.queries("f_bootstrap_ci")(spark, sf).count()
    }
    assert(rows == 32L)
    // input is ~15k orders -> 480k fanned rows; partial aggregation must
    // reduce each partition to <= 32 rows before the exchange, so the
    // shuffle is KBs where the fanned stream would be MBs
    assert(m.inputRecords >= 15000, m.toString)
    assert(m.shuffleWriteBytes < 200000,
      s"bootstrap fanout leaked into the shuffle: $m")
  }

  test("FIM transform is runtime map-only: no shuffle at any size") {
    val sf = "/root/testdata/sf0.01"
    val (rows, m) = Instrumentation.measure(spark) {
      SparkEntry.queries("llm_fim_transform")(spark, sf).count()
    }
    assert(rows > 0)
    assert(m.shuffleWriteBytes < 10000,
      s"FIM must not shuffle: $m")
  }

  test("winnowing's per-document windows shuffle the slim gram " +
       "projection once, never the documents") {
    val sf = "/root/testdata/sf0.01"
    val totalChars = Tables.documents(spark, sf)
      .agg(sum(col("n_chars"))).head().getLong(0)
    val (rows, m) = Instrumentation.measure(spark) {
      SparkEntry.queries("text_winnowing")(spark, sf).count()
    }
    assert(rows > 0)
    assert(m.shuffleWriteBytes > 0, "the per-doc sort is a real shuffle")
    // one gram row (id, pos, 32-hex hash) per character — ~42 B/char
    // measured after lz4 (high-entropy hex barely compresses); a
    // w-times blowup (re-shipping every window's 4-gram slice) would
    // quadruple that and trip the bound
    assert(m.shuffleWriteBytes < 100L * totalChars,
      s"gram shuffle blew up: $m vs $totalChars chars")
  }

  test("pipeline presets: each substrate executes once (bounded input " +
       "reads) and the daily increment moves less data than the rebuild") {
    val sf = "/root/testdata/sf0.01"
    val nDocs = Tables.documents(spark, sf).count()
    val (e2eRows, e2e) = Instrumentation.measure(spark) {
      SparkEntry.queries("llm_pipeline_e2e")(spark, sf).count()
    }
    assert(e2eRows == 15L)
    // the funnel's stages each re-attach text by scan-semi-join against
    // a CUT id set; if a substrate (rules, minhash, components) ran once
    // per downstream consumer instead, document reads would multiply
    // well past this bound
    assert(e2e.inputRecords < 30L * nDocs,
      s"e2e re-executed substrates: $e2e for $nDocs docs")
    val (incrRows, incr) = Instrumentation.measure(spark) {
      SparkEntry.queries("llm_pipeline_incremental")(spark, sf).count()
    }
    assert(incrRows == 7L)
    assert(incr.inputRecords < 30L * nDocs,
      s"increment re-executed substrates: $incr for $nDocs docs")
    // the 100 TB claim in one number: ingesting the 10% batch against
    // the stored index must move LESS through shuffles than rebuilding
    // the whole corpus
    assert(incr.shuffleWriteBytes < e2e.shuffleWriteBytes,
      s"increment moved more than the rebuild: $incr vs $e2e")
  }
}
