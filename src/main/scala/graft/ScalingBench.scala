package graft

import graft.kernel.ExtractMode
import graft.pipeline.ExtractJob
import graft.sources.DocSynth

/** N -> 4N scaling evidence (BASELINE.json: efficiency >= 0.8 between two
  * cluster sizes; no cluster in this sandbox, so per driver instruction the
  * same job runs at two parallelism levels on the same input and reports
  * throughput at both plus efficiency = T_4N / (4 * T_N).
  *
  * Each level runs in its OWN JVM pinned with `taskset` to exactly that many
  * cores — an un-pinned local[8] JVM borrows the idle 24 cores for GC /
  * shuffle / netty threads, which inflates the small-"cluster" baseline and
  * understates true scaling (a real 8-core executor slice has no such spare
  * cores). availableProcessors inside the pinned JVM reports the affinity
  * count, so GC parallelism etc. auto-size like a real small node.
  *
  * Workload: the one extraction path (`DocSynth.docs` → `ExtractJob`'s
  * SEMANTIC kernel stage — HTML tokenization/boilerplate scoring, layout
  * reading order, chunking) over the sf corpus deterministically replicated
  * so kernel compute dominates fixed overhead. Only the base rows cross the
  * round-robin exchange; replicas are exploded after it.
  */
object ScalingBench {

  private def runLevel(cpus: Int, sfDir: String, reps: Int, replicate: Int): (Long, Double) = {
    val spark = Bench.session(cpus.toString)
    try {
      val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count() * replicate
      val cfg = ExtractJob.Config(mode = ExtractMode.SemanticMode)
      def job(): Unit =
        Bench.force(ExtractJob.extractWithLineage(DocSynth.docs(spark, sfDir, replicate), cfg)._1.toDF())
      def gcMillis: Long = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(_.getCollectionTime).sum
      }
      job() // warm-up
      val timed = (1 to reps).map { _ =>
        val g0 = gcMillis
        val t = Bench.timeSec(job())
        (t, gcMillis - g0)
      }
      System.err.println(s"[level $cpus] reps=${timed.map { case (t, g) => f"$t%.2fs(gc ${g}ms)" }.mkString(", ")}")
      (nDocs, timed.map(_._1).min)
    } finally spark.stop()
  }

  private def spawnLevel(cpus: Int): (Long, Double) = {
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val jvmArgs = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("--add-opens") || a.startsWith("-Xmx") || a.startsWith("-D"))
    }
    val cmd = Seq("taskset", "-c", s"0-${cpus - 1}", javaBin) ++ jvmArgs ++
      Seq("-cp", sys.props("java.class.path"), "graft.ScalingBench")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_LEVEL_CPUS", cpus.toString)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    p.waitFor()
    // last line: {"docs":N,"sec":T}
    val line = out.linesIterator.toSeq.reverse.find(_.startsWith("{")).getOrElse(
      sys.error(s"level $cpus produced no result; output:\n$out"))
    val docs = "\"docs\":(\\d+)".r.findFirstMatchIn(line).get.group(1).toLong
    val sec = "\"sec\":([0-9.]+)".r.findFirstMatchIn(line).get.group(1).toDouble
    (docs, sec)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // '.' decimals in the JSON line

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val replicate = sys.env.getOrElse("SPARK_GRAFT_REPL", "1200").toInt

    sys.env.get("SPARK_GRAFT_LEVEL_CPUS") match {
      case Some(cpus) => // child: one pinned level
        val (docs, sec) = runLevel(cpus.toInt, sfDir, reps, replicate)
        println(f"""{"docs":$docs,"sec":$sec%.3f}""")
      case None => // parent: orchestrate N vs 4N (default nproc/4 vs nproc)
        val nproc = Runtime.getRuntime.availableProcessors
        val levels = sys.env.getOrElse("SPARK_GRAFT_LEVELS", s"${math.max(1, nproc / 4)},$nproc")
          .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt)
        require(levels.length == 2 && levels(0) < levels(1),
          s"SPARK_GRAFT_LEVELS must be 'lo,hi' with lo<hi, got: ${levels.mkString(",")}")
        val Array(lo, hi) = levels
        val (nLo, tLo) = spawnLevel(lo)
        val (_, tHi) = spawnLevel(hi)
        val tpLo = nLo / tLo
        val tpHi = nLo / tHi
        val eff = tpHi / ((hi.toDouble / lo) * tpLo)
        println(f"""{"sf":"$sfDir","docs":$nLo,"local${lo}_sec":$tLo%.3f,"local${lo}_docs_per_sec":$tpLo%.1f,"local${hi}_sec":$tHi%.3f,"local${hi}_docs_per_sec":$tpHi%.1f,"scaling_efficiency":$eff%.3f}""")
    }
  }
}
