package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Ckpt is the only owner of lineage cuts: a direct checkpoint call
  * skips the stats clamp (a planner DoS at scale) and the durability
  * rule, and a hand-rolled LogicalRDD unpersist is a second release
  * policy. This scan fails on either outside Ckpt.scala and the
  * CheckpointStats bridge. Likewise Instrumentation is the only code
  * that listens to Spark. Comments are stripped first, so prose may
  * still name the calls.
  */
class LineageOwnershipSpec extends AnyFunSuite {

  private val owners = Set("Ckpt.scala", "CheckpointStats.scala")

  private def code(p: Path): String =
    Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  private val allSources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    scala.util.Using.resource(Files.walk(root))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> code(p)).toList)
  }

  private val sources =
    allSources.filterNot(s => owners(s._1.getFileName.toString))

  test("no src/main file outside Ckpt calls .checkpoint( or " +
       ".localCheckpoint( directly") {
    val call = """\.(localCheckpoint|checkpoint)\(""".r
    val offenders = sources.collect {
      case (p, c) if call.findFirstIn(c).isDefined => p.toString
    }
    assert(sources.exists(_._1.endsWith("operators/Graphs.scala")),
      "the scan missed the fixpoint sources")
    assert(offenders.isEmpty, s"cut lineage through Ckpt.cut: $offenders")
  }

  test("no src/main file outside Ckpt unpersists a LogicalRDD") {
    val offenders = sources.collect {
      case (p, c) if c.contains("LogicalRDD") && c.contains("unpersist(") =>
        p.toString
    }
    assert(offenders.isEmpty, s"release cuts through Ckpt.release: $offenders")
  }

  test("no src/main file outside Instrumentation adds a Spark listener") {
    val offenders = allSources.collect {
      case (p, c) if c.contains("addSparkListener(") &&
          p.getFileName.toString != "Instrumentation.scala" => p.toString
    }
    assert(allSources.exists(_._1.endsWith("graft/Instrumentation.scala")),
      "the scan missed the measurement core")
    assert(offenders.isEmpty, s"measure through Instrumentation: $offenders")
  }
}
