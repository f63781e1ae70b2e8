package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one local SparkSession per suite, UTC, AQE on —
  * the same config the engine ships (Engine.local), small core count to keep
  * specs quick.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  protected lazy val spark: SparkSession = Engine.local(4, getClass.getSimpleName)

  /** Point every later Ckpt.cut of this suite's session at a fresh
    * durable checkpoint directory and return it. A SparkContext cannot
    * unset its checkpoint directory, so compute any local-checkpoint
    * answer BEFORE calling this.
    */
  protected def useDurableCuts(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    spark.sparkContext.setCheckpointDir(dir.toString)
    dir
  }

  /** Whether any cut was written under `dir` as a reliable checkpoint. */
  protected def wroteCheckpoints(dir: java.nio.file.Path): Boolean =
    scala.util.Using.resource(java.nio.file.Files.walk(dir))(
      _.anyMatch(_.getFileName.toString.startsWith("rdd-")))

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
