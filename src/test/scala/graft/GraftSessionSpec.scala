package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Entry points build their session through [[GraftSession]] only, so
  * session settings cannot drift apart again.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("SparkSession.builder appears only in GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "GraftSession.scala")
        .filter((p: Path) => Files.readString(p).contains("SparkSession.builder"))
        .map(root.relativize(_).toString).toList.sorted
      finally walk.close()
    assert(offenders.isEmpty,
      s"build sessions with graft.GraftSession.local instead: $offenders")
  }
}
