package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The Hadoop site files the engine ships. A `*-site.xml` on the engine's
  * classpath sits next to a deployment's own: whichever comes first is
  * loaded whole and the other is ignored. So the engine ships one, and it
  * sets only the two keys that register its `file:` scheme; a key added
  * here would shadow (or be shadowed by) a deployment's setting.
  */
class ResourceInventorySpec extends AnyFunSuite {

  test("src/main/resources holds one site file, setting only the file: scheme") {
    val root = Paths.get("src/main/resources")
    assert(Files.isDirectory(root), s"expected the resources at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val sites = try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith("-site.xml")).toList
    finally walk.close()
    assert(sites.map(root.relativize(_).toString) == List("core-site.xml"))

    val conf = new Configuration(false)
    conf.addResource(sites.head.toUri.toURL)
    val props = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    assert(props == Map(
      "fs.file.impl" -> classOf[graft.util.NioLocalFileSystem].getName,
      "fs.AbstractFileSystem.file.impl" -> classOf[graft.util.NioLocalFs].getName))
  }
}
