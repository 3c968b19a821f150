package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The files in main code that write or name a commit marker, and the
  * files that take a path away from a reader. Every table commits through
  * `VersionedTable`: a rebuild installs a generation under its `_committed`
  * marker, and an append into a generation commits through that
  * generation's manifest. A new hand-rolled commit protocol, or a
  * maintenance job that renames or deletes a path outside retention, needs
  * an edit of these sets.
  */
class MarkerInventorySpec extends AnyFunSuite {

  /** Names of the main-code files whose text matches `pattern`. */
  private def filesMatching(pattern: String): Set[String] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"expected the sources at ${root.toAbsolutePath}")
    val re = pattern.r
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter((p: Path) => Files.isRegularFile(p))
      .filter(p => re.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toSet
    finally walk.close()
  }

  test("src/main writes and names commit markers only in VersionedTable") {
    assert(filesMatching("_committed\"|_done\"|_format\"") == Set("VersionedTable.scala"))
  }

  test("src/main renames no path, and deletes paths only in VersionedTable") {
    assert(filesMatching("\\.rename\\(") == Set.empty[String])
    assert(filesMatching("\\.delete\\(") == Set("VersionedTable.scala"))
  }
}
