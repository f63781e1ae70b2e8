package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Executor/driver-loss chaos harness for the STREAMING ingest pipeline
  * (VERDICT r10 "Next round" #5: "prove the ingest_batch replay
  * idempotency under a REAL retry, not a spec simulation").
  *
  * Four phases, each a fresh JVM (tools/chaos_stream.sh drives them):
  *
  *   prep    — split the sf0.001 documents into 6 single-file batches
  *             (with planted cross-batch duplicates so the dedup path
  *             has real work), written one file per trigger.
  *   control — run StreamOps.dedupIngest over all 6 batches undisturbed.
  *   victim  — same pipeline, but Runtime.halt(137) fires from the
  *             StreamingQueryListener after the 3rd non-empty batch
  *             commits: a REAL driver crash with the stream mid-flight.
  *   resume  — before restarting, delete the NEWEST entry in the
  *             checkpoint's commits/ log. Spark's own recovery then sees
  *             a batch whose offsets are logged but whose commit is
  *             missing and RE-EXECUTES its foreachBatch against sinks
  *             that already contain that batch's writes — the genuine
  *             at-least-once replay the ingest_batch dynamic-overwrite
  *             contract exists for. The restarted query then drains the
  *             remaining batches.
  *
  * Success = the victim's three sinks (corpus, band index, rejects) are
  * row-identical to the control's after resume, replay and crash
  * notwithstanding.
  */
object ChaosStreamIngest {

  private def start(spark: SparkSession, src: String, dir: String,
                    tag: String) = {
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
    graft.streaming.StreamOps.dedupIngest(stream,
      s"$dir/$tag/corpus", s"$dir/$tag/index", s"$dir/$tag/rejects",
      s"$dir/$tag/ckpt")
  }

  def main(args: Array[String]): Unit = {
    val (mode, dir) = (args(0), args(1))
    val spark = Engine.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val src = s"$dir/src"

    mode match {
      case "prep" =>
        val docs = Tables.documents(spark, "/root/testdata/sf0.001")
          .select(col("doc_id"), col("text")).orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getString(1)))
        // 6 slices; slices 3..5 replant earlier texts under new ids so
        // the corpus-dedup path fires across the crash boundary
        val slices = docs.grouped(100).take(6).toArray
        for (i <- slices.indices) {
          val planted: Seq[(Long, String)] =
            if (i >= 3) slices(i - 3).take(20).toSeq
              .map { case (id, t) => (id + 100000L, t) }
            else Seq.empty[(Long, String)]
          val rows = slices(i).toSeq ++ planted
          // one FILE per slice -> one micro-batch per trigger
          rows.toDF("doc_id", "text").coalesce(1)
            .write.mode("append").parquet(src)
          println(s"[chaos-stream] slice $i -> ${rows.length} docs")
        }

      case "control" =>
        val q = start(spark, src, dir, "control")
        q.processAllAvailable(); q.stop()
        println("[chaos-stream] control complete")

      case "victim" =>
        spark.streams.addListener(new StreamingQueryListener {
          private var committed = 0
          override def onQueryStarted(
              e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(
              e: StreamingQueryListener.QueryProgressEvent): Unit = {
            if (e.progress.numInputRows > 0) {
              committed += 1
              println(s"[chaos-stream] batch ${e.progress.batchId} " +
                s"committed (${e.progress.numInputRows} rows)")
              if (committed == 3) {
                println("[chaos-stream] HALTING driver JVM (simulated " +
                  "crash, exit 137)")
                Console.flush()
                Runtime.getRuntime.halt(137)
              }
            }
          }
          override def onQueryTerminated(
              e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        })
        val q = start(spark, src, dir, "victim")
        q.processAllAvailable(); q.stop()
        // unreachable when the halt fires as designed
        println("[chaos-stream] victim finished WITHOUT crashing — " +
          "halt did not fire, run invalid")
        sys.exit(1)

      case "resume" =>
        val commits = Paths.get(s"$dir/victim/ckpt/commits")
        val newest = Files.list(commits).toArray.map(_.toString)
          .filterNot(_.endsWith(".tmp")).sorted.lastOption
        newest.foreach { c =>
          println(s"[chaos-stream] deleting commit marker $c — forces " +
            "Spark recovery to RE-EXECUTE that batch's foreachBatch " +
            "against sinks that already hold its writes")
          Files.delete(Paths.get(c))
          // the Hadoop local FS keeps a sibling checksum; leaving it
          // behind makes the replayed commit's rename fail
          val p = Paths.get(c)
          val crc = p.getParent.resolve("." + p.getFileName + ".crc")
          Files.deleteIfExists(crc)
        }
        val q = start(spark, src, dir, "victim")
        q.processAllAvailable(); q.stop()
        println("[chaos-stream] resume complete (replayed + drained)")
    }
    spark.stop()
  }
}
