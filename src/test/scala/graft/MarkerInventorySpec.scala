package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The files in main code that write or name a commit marker. A table
  * rebuilt from scratch commits through `VersionedTable` (its `_committed`
  * generation marker); the only other marker is the `_format` version of
  * `DeltaBatches`' append manifest. A new hand-rolled commit protocol
  * needs an edit of this set.
  */
class MarkerInventorySpec extends AnyFunSuite {

  test("src/main writes and names commit markers only in VersionedTable and DeltaBatches") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"expected the sources at ${root.toAbsolutePath}")
    val marker = "Markers\\.write\\(|_committed\"|_done\"".r
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(p => Files.isRegularFile(p))
      .filter(p => marker.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toSet
    finally walk.close()
    assert(files == Set("VersionedTable.scala", "DeltaBatches.scala"))
  }
}
