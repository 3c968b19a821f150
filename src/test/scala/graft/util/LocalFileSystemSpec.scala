package graft.util

import graft.SparkTestBase
import graft.pipeline.Checkpoint
import graft.sources.DocSynth
import java.net.URI
import java.nio.file.{Files, Paths}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.jdk.CollectionConverters._

/** The engine's `file:` scheme: it is what every session resolves, it
  * starts no `chmod` / `readlink` process, and what it writes and reports
  * is what stock Hadoop writes and reports.
  */
class LocalFileSystemSpec extends SparkTestBase {

  /** Commands of the processes this JVM started while `f` ran. */
  private def commandsDuring(f: => Unit): Seq[String] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    try f finally r.stop()
    val dump = Files.createTempFile("graft-fork", ".jfr")
    try {
      r.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
    } finally { r.close(); Files.delete(dump) }
  }

  private def program(command: String): String = Paths.get(command.split(" ").head).getFileName.toString

  private def modeOf(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  test("the session's Hadoop configuration resolves file: to the engine's classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.getLocal(conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.getRaw.isInstanceOf[NioRawLocalFileSystem], fs.getRaw.getClass)
    val afs = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
  }

  test("a partitioned write, a resumable run and a checkpointed micro-batch fork no chmod or readlink") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft-nofork")
    val started = commandsDuring {
      spark.range(200).selectExpr("id", "id % 3 as k").write.partitionBy("k")
        .parquet(root.resolve("parts").toString)
      assert(Checkpoint.runResumable(DocSynth.docs(spark, sfDir), root.resolve("extract").toString,
        numGroups = 4) == 4)
      val stream = MemoryStream[Int]
      val q = stream.toDS().groupBy("value").count()
        .writeStream.format("memory").queryName("graft_nofork").outputMode("update")
        .option("checkpointLocation", root.resolve("ckpt").toString).start()
      try { stream.addData(1, 2, 2, 3); q.processAllAvailable() } finally q.stop()
    }
    assert(spark.table("graft_nofork").count() == 3)
    val forked = started.filter(c => Set("chmod", "readlink")(program(c)))
    assert(forked.isEmpty, forked.take(5).mkString("\n"))
  }

  test("a staged curation run and a compaction list their files without forking ls") {
    import graft.operators.DedupOps
    import graft.pipeline.VersionedTable
    val root = Files.createTempDirectory("graft-nols")
    val table = root.resolve("table").toString
    VersionedTable.install(spark, table)(gen => spark.range(100).write.parquet(gen))
    val started = commandsDuring {
      DedupOps.curationRunStaged(spark, sfDir, root.resolve("stage").toString)
      VersionedTable.compact(spark, table)
    }
    val forked = started.filter(c => program(c) == "ls")
    assert(forked.isEmpty, forked.take(5).mkString("\n"))
  }

  test("written files, checksums and directories carry stock Hadoop's mode bits") {
    for (umask <- Seq("022", "027", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      /** Writes the same tree through `fs` and `fc` (each then closed);
        * the mode of every path under `root`, by relative path.
        */
      def tree(fs: FileSystem, afsImpl: String): Map[String, Int] = {
        val root = Files.createTempDirectory("graft-modes")
        val base = new Path(root.toUri)
        fs.initialize(URI.create("file:///"), conf)
        try {
          val out = fs.create(new Path(base, "a/b/file.bin"))
          try out.write(Array[Byte](1, 2, 3)) finally out.close()
          fs.mkdirs(new Path(base, "c/d"), new FsPermission(octal("750").toShort))
          fs.mkdirs(new Path(base, "e"))
        } finally fs.close()
        val fcConf = new Configuration(conf)
        fcConf.set("fs.AbstractFileSystem.file.impl", afsImpl)
        val fc = FileContext.getFileContext(fcConf)
        val fcOut = fc.create(new Path(base, "f/g/file.bin"), java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        try fcOut.write(Array[Byte](4, 5)) finally fcOut.close()
        fc.mkdir(new Path(base, "h/i"), new FsPermission(octal("701").toShort), true)
        val walk = Files.walk(root)
        try walk.iterator().asScala.filter(_ != root).map(p => root.relativize(p).toString -> modeOf(p)).toMap
        finally walk.close()
      }
      val stock = tree(new LocalFileSystem(new RawLocalFileSystem), "org.apache.hadoop.fs.local.LocalFs")
      val ours = tree(new NioLocalFileSystem, classOf[NioLocalFs].getName)
      assert(stock.keySet.exists(_.endsWith(".file.bin.crc")), stock.keySet)
      assert(ours == stock, s"umask $umask")
    }
  }

  test("a directory's setgid bit survives as it does under chmod, and the sticky bit falls back") {
    val conf = new Configuration()
    def underSetgid(fs: FileSystem): Int = {
      val root = Files.createTempDirectory("graft-setgid")
      Files.setAttribute(root, "unix:mode", Integer.valueOf(octal("2775")))
      assert(modeOf(root) == octal("2775"))
      fs.initialize(URI.create("file:///"), conf)
      try {
        fs.mkdirs(new Path(new Path(root.toUri), "sub"), new FsPermission(octal("750").toShort))
        modeOf(root.resolve("sub"))
      } finally fs.close()
    }
    assert(underSetgid(new NioLocalFileSystem) == underSetgid(new LocalFileSystem(new RawLocalFileSystem)))

    val fs = new NioLocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    val dir = Files.createTempDirectory("graft-sticky")
    // the recording sees the fallback's chmod: it is also this spec's check
    // that a forked process would be seen at all
    val started = commandsDuring(fs.setPermission(new Path(dir.toUri), new FsPermission(octal("1777").toShort)))
    fs.close()
    assert(modeOf(dir) == octal("1777"))
    assert(started.map(program) == Seq("chmod"), started)
  }

  test("link status without readlink: file, directory, missing path and symlink read as stock") {
    val root = Files.createTempDirectory("graft-links")
    val file = Files.write(root.resolve("file"), Array[Byte](1, 2, 3))
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val conf = new Configuration()
    val stock = new RawLocalFileSystem
    val ours = new NioRawLocalFileSystem
    stock.initialize(URI.create("file:///"), conf)
    ours.initialize(URI.create("file:///"), conf)
    def fields(s: FileStatus): Seq[Any] =
      Seq(s.getPath, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime, s.getPermission,
        s.getOwner, s.getGroup, if (s.isSymlink) s.getSymlink else null)
    for (p <- Seq(file, dir, link).map(p => new Path(p.toString)))
      assert(fields(ours.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), p)
    val missing = new Path(root.resolve("missing").toString)
    intercept[java.io.FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[java.io.FileNotFoundException](ours.getFileLinkStatus(missing))
  }
}
