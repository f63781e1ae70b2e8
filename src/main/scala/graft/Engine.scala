package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SparkSession factory with the engine's standard configuration.
  *
  * Design notes for scale (the library targets a 1000-executor cluster even
  * though CI runs `local[32]`):
  *   - AQE is left ON (Spark 4 default): runtime coalescing of shuffle
  *     partitions, dynamic broadcast-join demotion/promotion, and skew-join
  *     splitting are the first line of defense at 100 TB.
  *   - `spark.sql.shuffle.partitions` is only pinned in local mode; on a real
  *     cluster AQE's coalescing makes the initial number mostly irrelevant.
  *   - Session timezone is pinned to UTC so timestamp semantics match the
  *     DuckDB oracle and the reference's TIMESTAMP_NTZ behavior
  *     (reference: models/staging/stg_olist_orders.sql:9-13 renames raw
  *     `%Y-%m-%d %H:%M:%S` timestamps without zone math).
  */
object Engine {
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    // Multi-JVM dress rehearsal hooks (tools/multijvm_sweep.sh):
    //   SPARK_GRAFT_MASTER=local-cluster[2,8,4096] runs the same mains
    //     against REAL executor JVMs — real closure/broadcast/Aggregator
    //     serialization and executor-side classloading, the boundaries a
    //     single local[n] JVM never crosses;
    //   SPARK_GRAFT_JARS=<packaged graft jar> ships the library to those
    //     executor processes (local[n] ignores it — same classloader).
    // Defaults preserve the driver contract exactly: local[cores].
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")
    val builder = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(new functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config(semanticConf)
      // managed tables (SessionCatalogWarehouse) land in tmp, not the cwd;
      // per-process dir so a previous JVM's orphaned managed-table
      // locations (the in-memory catalog forgets them, the files persist)
      // can't collide with this session's saveAsTable
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-spark-warehouse-" +
          ProcessHandle.current().pid())
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_JARS").foreach(j =>
      builder.config("spark.jars", j))
    // Stress-regime hooks (tools/spill_sweep.sh, tools/chaos_kill.sh):
    //   SPARK_GRAFT_CONF="k=v;k2=v2" overlays arbitrary Spark confs —
    //     used to shrink execution memory (spark.memory.fraction) and
    //     partition counts so the SAME inventory runs through real
    //     ExternalSorter/UnsafeExternalSorter spill serialization;
    //   SPARK_GRAFT_CHECKPOINT_DIR=<dir> sets a durable checkpoint
    //     location; every Ckpt.cut then writes a reliable checkpoint
    //     there (executor-loss-safe).
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').iterator
      .map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    // SPARK_GRAFT_METRICS=1: print cumulative spill counters at
    // application end — the evidence a forced-spill sweep needs to prove
    // the spill paths actually executed (not just that memory was small).
    if (sys.env.contains("SPARK_GRAFT_METRICS")) {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd, SparkListenerTaskEnd}
      import java.util.concurrent.atomic.AtomicLong
      val mem = new AtomicLong; val disk = new AtomicLong
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            mem.addAndGet(m.memoryBytesSpilled)
            disk.addAndGet(m.diskBytesSpilled)
          }
        }
        override def onApplicationEnd(
            e: SparkListenerApplicationEnd): Unit =
          // scalastyle:off println
          println(s"[graft-metrics] memoryBytesSpilled=${mem.get} " +
            s"diskBytesSpilled=${disk.get}")
          // scalastyle:on println
      })
    }
    spark
  }

  /** Settings that change query RESULTS, not speed. `local` and
    * `clusterConf` both apply exactly this map, so cluster results
    * cannot drift from the oracle-verified local behavior.
    */
  private val semanticConf: Map[String, String] = Map(
    // DuckDB-oracle and reference timestamp semantics (see the header)
    "spark.sql.session.timeZone" -> "UTC",
    // InferFiltersFromGenerate adds `size(e) > 0 AND isnotnull(e)` below
    // every explode; predicate pushdown then substitutes e's FULL
    // defining expression through the projections that had carefully
    // materialized it. For an explode of a computed shingle array that
    // re-runs tokenization inside every element_at of the filter's
    // lambda — measured 26s vs 0.9s on llm_decontaminate at sf0.1. The
    // rule only pre-prunes empty/null generator inputs, which Generate
    // skips during execution anyway.
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    // Older testdata layouts stored events.ts as TIMESTAMP(NANOS), which
    // the vectorized parquet reader rejects; session-wide legacy
    // nanos-as-long keeps those files readable (Tables.events branches on
    // the scanned type) without any reader mutating session state.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** The cluster deployment profile — every setting the 100 TB design
    * notes scattered through this repo assume, codified so a deployment
    * starts from the tuned profile instead of rediscovering it: the
    * scale knobs below plus [[semanticConf]]. `local` instead pins
    * shuffle partitions to the core count (on a cluster AQE coalescing
    * owns that knob).
    */
  def clusterConf: Map[String, String] = Map(
    // AQE family: runtime partition coalescing, skew-join splitting, and
    // join-strategy demotion are the first line of defense at 100 TB.
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // Start wide, let AQE coalesce down: at 100 TB a shuffle stage's
    // pre-coalesce partition count must keep every task's input under
    // executor memory; 64 MiB advisory size × 8192 initial partitions
    // covers a ~0.5 TB shuffle per stage before AQE even splits skew.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "8192",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "67108864",
    // Scan granularity: 256 MiB splits keep the task count of a 100 TB
    // scan around 400k — large enough tasks to amortize scheduling,
    // small enough to ride executor loss.
    "spark.sql.files.maxPartitionBytes" -> "268435456",
    // Dims up to 64 MiB broadcast (region/nation/supplier-scale); the
    // scaling fact tables never qualify, AQE can still demote.
    "spark.sql.autoBroadcastJoinThreshold" -> "67108864") ++ semanticConf

  /** Builder for a cluster deployment: master/executor sizing stays with
    * spark-submit; `checkpointDir` (durable storage, e.g. an s3a/hdfs
    * path) makes every Ckpt.cut — so every iterative fixpoint —
    * executor-loss-safe; without it cuts are local checkpoints (fast,
    * not fault-tolerant).
    */
  def cluster(appName: String = "graft",
              checkpointDir: Option[String] = None): SparkSession.Builder = {
    val b = SparkSession.builder().appName(appName)
      .withExtensions(new functions.GraftExtensions)
      .config(clusterConf)
    checkpointDir.foreach(d => b.config("spark.checkpoint.dir", d))
    b
  }
}

/** Readers for the driver-generated TPC-H-ish parquet tables
  * (see /root/repo/TESTDATA.md). One method per table so call sites stay
  * typo-proof; all reads are plain parquet scans that Catalyst can prune
  * and push filters into.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** Schema-adaptive reader for the events table — the generator has shipped
    * `ts` as both parquet TIMESTAMP(NANOS) and TIMESTAMP_NTZ(MICROS) across
    * testdata revisions, so the reader branches on the scanned type instead
    * of assuming one layout:
    *   - LongType: nanos surfaced as BIGINT via the nanos-as-long legacy flag
    *     (set once in Engine.local — a reader must not mutate session state).
    *     Rebuild microseconds with INTEGER division: epoch-nanos (~1.5e18)
    *     exceed 2^53, so a double round-trip would lose up to ~256 ns and
    *     shift some rows by 1 µs; `ts div 1000` is exact for all longs.
    *   - TIMESTAMP_NTZ / TIMESTAMP: already microseconds; normalize to
    *     session-zoned TimestampType (identity under the pinned UTC session
    *     timezone) so every downstream consumer — windows, watermarks, as-of
    *     joins — sees one stable type regardless of the file layout.
    * Both branches are bit-compatible with the DuckDB oracle's microsecond
    * TIMESTAMP.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
