package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Settings are arguments, not JVM-wide switches: the only `graft.*` system
  * properties the engine reads are the three artifact paths a scale-rung JVM
  * passes with `-D`. Every `src/main` Scala file that reads or sets system
  * properties may name no other `graft.*` key.
  */
class SystemPropsSpec extends AnyFunSuite {
  private val ArtifactPaths = Set("graft.graph.edgesDir", "graft.graph.pairsDir", "graft.dedup.bandsDir")

  test("src/main reads no graft.* system property but the three artifact paths") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "no src/main Scala sources found")
    val keys = for {
      f <- files
      text = Files.readString(f)
      if Seq("sys.props", "System.getProperty", "withProps(").exists(text.contains)
      m <- "\"(graft\\.[A-Za-z0-9_.]+)\"".r.findAllMatchIn(text)
    } yield (f, m.group(1))
    val extra = keys.filterNot(k => ArtifactPaths(k._2))
    assert(extra.isEmpty, s"graft.* system properties besides the artifact paths: ${extra.mkString(", ")}")
    assert(keys.map(_._2).toSet == ArtifactPaths, s"the scan missed an artifact path: $keys")
  }
}
