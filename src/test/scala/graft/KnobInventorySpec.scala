package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The `spark.graft.*` session-conf keys main code reads. Each key is a
  * second code path (or a tuning knob) that tests must hold equal to the
  * default, so every key here carries a stated reason, and a new one needs
  * an edit of this set.
  */
class KnobInventorySpec extends AnyFunSuite {

  test("src/main reads no spark.graft.* key") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"expected the sources at ${root.toAbsolutePath}")
    val key = "\"(spark\\.graft\\.[A-Za-z0-9_.]*)".r
    val walk = Files.walk(root)
    val keys = try walk.iterator().asScala.filter(p => Files.isRegularFile(p))
      .flatMap(p => key.findAllMatchIn(Files.readString(p)).map(_.group(1))).toSet
    finally walk.close()
    assert(keys == Set.empty[String])
  }
}
