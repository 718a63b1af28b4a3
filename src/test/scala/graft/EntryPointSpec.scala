package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps `src/main` to its runtime surfaces: one session builder and a
  * fixed set of mains. A new measurement belongs in a `graft.Probe`
  * mode, not in another hand-built session and main.
  */
class EntryPointSpec extends AnyFunSuite {
  // the forked test JVM runs in the project root
  private val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  private lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p)).toList
    finally walk.close()
  }

  test("only the seven entry points define a main") {
    val mains = sources.flatMap { case (_, text) =>
      // each chunk runs from one `object` declaration to the next
      text.split("""\bobject\s+""").toSeq.tail
        .filter(_.contains("def main("))
        .map(_.takeWhile(c => c.isLetterOrDigit || c == '_'))
    }.toSet
    assert(mains == Set("Bench", "Verify", "RunPipeline", "PlanDump",
      "ScaleBench", "ScaleData", "Probe"))
  }

  test("only Session and RunPipeline build a SparkSession") {
    val builders = sources.collect {
      case (path, text) if text.contains("SparkSession.builder") => path
    }.toSet
    assert(builders == Set("graft/Session.scala", "graft/RunPipeline.scala"))
  }
}
