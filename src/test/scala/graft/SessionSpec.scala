package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

/** Every main builds its SparkSession through `graft.Session`, and
  * `graft.Profile` holds the one stage listener. This spec reads the
  * sources and keeps a second builder, conf parser or listener from
  * being copied in again.
  */
class SessionSpec extends AnyFunSuite {
  // (file, its lines that are not comment lines): a scaladoc or line
  // comment may name the builder, as AsofJoin's does
  private lazy val mainSources: Seq[(String, String)] =
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .toArray.map(_.toString).filter(_.endsWith(".scala")).sorted.toSeq
      .map { f =>
        val src = Source.fromFile(f, "UTF-8")
        val lines = try src.getLines().toVector finally src.close()
        f -> lines.filterNot { l =>
          val t = l.trim
          t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
        }.mkString("\n")
      }

  private def outside(pattern: String, owner: String): Seq[String] =
    mainSources.collect {
      case (f, src) if src.contains(pattern) && !f.endsWith(s"/graft/$owner.scala") => f
    }

  test("one session builder, one conf parser, one stage listener under src/main/scala") {
    assert(mainSources.exists(_._2.contains("SparkSession.builder()")),
      "no builder found at all: the source walk broke")
    val builders = outside("SparkSession.builder()", "Session")
    assert(builders.isEmpty, s"SparkSession.builder() outside graft.Session: $builders")
    val confReaders = outside("SPARK_GRAFT_CONF", "Session")
    assert(confReaders.isEmpty, s"SPARK_GRAFT_CONF read outside graft.Session: $confReaders")
    val listeners = outside("addSparkListener(", "Profile")
    assert(listeners.isEmpty, s"addSparkListener( outside graft.Profile: $listeners")
  }
}
