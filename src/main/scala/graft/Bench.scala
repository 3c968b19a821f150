package graft

import graft.pipeline.ExtractJob
import graft.sources.DocSynth
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-round benchmark (driver contract: ONE JSON line on stdout).
  *
  * Timings force full evaluation through a noop-format write — a bare
  * count() would let Catalyst prune the expensive projections and measure
  * nothing. Headline extra fields: extraction docs/sec for the flagship
  * pipeline (BASELINE.json metric) alongside the per-query suite seconds.
  *
  * The extraction/sustained phases run in a SELF-SPAWNED child JVM pinned
  * with `taskset` to exactly `cpus` cores and a host-sized heap (`childMem`,
  * override: SPARK_GRAFT_CHILD_MEM), the ScalingBench pattern. Rationale
  * (rounds 2-3): the round driver launches Bench with a ~90 GB driver heap,
  * which BASELINE.md documents as pathological on this box (lazy-commit
  * page faulting shows up as multi-second stalls) — the official sustained
  * number ran ~70x below pinned-run truth for two rounds because of it. The
  * child also records per-rep seconds, GC time, and /proc/loadavg so
  * co-tenant noise is adjudicable from the artifact alone (this VM's
  * load spikes 5-20x; a rep that lands on load 18 is visibly poisoned).
  */
object Bench {

  def session(cpus: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .withExtensions(new GraftExtensions) // md5prefix64 and the other native functions
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // spark.local.dir stays on disk: tmpfs (/dev/shm) measured 10x WORSE at
    // local[32] in this sandbox (memory-reclaim pressure), disk page cache
    // absorbs the shuffle fine.
    val localDir = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "")
    if (localDir.nonEmpty) b.config("spark.local.dir", localDir)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `local[N]` cores: SPARK_GRAFT_CPUS, else the cores this JVM sees. */
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** Extraction child heap: SPARK_GRAFT_CHILD_MEM, else half of MemTotal
    * clamped to 2–8 GiB (2g when MemTotal is unreadable).
    */
  def childMem: String = sys.env.getOrElse("SPARK_GRAFT_CHILD_MEM", {
    val halfGiB = scala.util.Try {
      val memTotal = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/meminfo")), "UTF-8")
        .linesIterator.find(_.startsWith("MemTotal:")).get
      memTotal.split("\\s+")(1).toLong / (2L * 1024 * 1024) // kB -> GiB / 2
    }.getOrElse(2L)
    s"${math.min(8L, math.max(2L, halfGiB))}g"
  })

  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def timeSec(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** 1-minute load average — the co-tenant noise fingerprint. */
  def loadavg1m: Double = scala.util.Try {
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").split(" ")(0).toDouble
  }.getOrElse(-1.0)

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  private def heapMaxMb: Long = Runtime.getRuntime.maxMemory() / (1024 * 1024)

  /** Cumulative CPU seconds consumed by THIS JVM — the co-tenant
    * discriminator for a slow rep: wall 85s with process CPU ≈ cores × 85
    * means we burned the cores ourselves (engine/GC-side — investigate);
    * wall 85s with process CPU ≈ a normal rep's means the cores were taken
    * from us (VM-side co-tenant — disregard the rep).
    */
  private def processCpuSec: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** Minor page faults of this process (/proc/self/stat field 10) — the
    * lazy-commit/page-zeroing discriminator: a slow rep with a minflt spike
    * is burning CPU faulting in freshly committed heap pages.
    */
  private def minorFaults: Long = scala.util.Try {
    val stat = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/stat")), "UTF-8")
    // fields after the parenthesized comm (which may contain spaces)
    stat.substring(stat.lastIndexOf(')') + 2).split(" ")(7).toLong
  }.getOrElse(-1L)

  /** Cumulative JIT compilation milliseconds — the deopt-storm
    * discriminator: a slow rep with a compilation-time spike is
    * re-JITting (e.g. code-cache eviction), not doing pipeline work.
    */
  private def jitMillis: Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else -1L
  }

  // Locale.ROOT formatting: f"%.3f" under a decimal-comma default locale
  // would emit "2,345" — silently wrong minima after arrMin's split(",")
  // and a malformed JSON artifact.
  private def jsonArr(xs: Seq[Double]): String =
    xs.map(x => String.format(java.util.Locale.ROOT, "%.3f", Double.box(x)))
      .mkString("[", ",", "]")

  /** Extraction phases — chunk-mode, semantic-mode, and the sustained
    * (replicated-corpus) run. Every rep's seconds are recorded, plus GC
    * delta and loadavg per sustained rep. Returns the child JSON line.
    */
  def extractionPhases(spark: SparkSession, sfDir: String): String = {
    val semantic = ExtractJob.Config(mode = graft.kernel.ExtractMode.SemanticMode)
    def extract(cfg: ExtractJob.Config, replicate: Int = 1): Unit =
      force(ExtractJob.extractWithLineage(DocSynth.docs(spark, sfDir, replicate), cfg)._1.toDF())
    // warm the JVM/codegen (both extraction modes) on the measured input
    try {
      extract(ExtractJob.Config())
      extract(semantic)
    } catch { case _: Throwable => () }

    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val chunkReps = (1 to 2).map(_ => timeSec(extract(ExtractJob.Config())))
    val semReps = (1 to 2).map(_ => timeSec(extract(semantic)))
    // sustained throughput: replicated corpus large enough that fixed cost
    // (~3s of JIT + codegen + shuffle machinery on the FIRST full-size run)
    // is amortized — the number that extrapolates to a long-running 100 TB
    // job. min-of-N rides out this VM's co-tenant spikes; the per-rep
    // arrays + loadavg below prove (round-4 measurement, quiet box, pinned
    // 16g: reps 3.01/2.36/2.13/2.15/2.23/2.20s — flat after warm-up, with
    // shuffle dirs auto-cleaned to 5 MB and dirty pages flushed between
    // reps) that any recorded degradation is co-tenant, not accumulation.
    val repl = sys.env.getOrElse("SPARK_GRAFT_SUSTAINED_REPL", "1200").toInt
    // same loud-fail policy as SPARK_GRAFT_QUERY_REPS: a typo'd value must
    // not silently fall back, and reps < 1 would emit an empty array that
    // crashes the parent's min AFTER the whole run — clamp instead
    val nSus = sys.env.get("SPARK_GRAFT_SUSTAINED_REPS") match {
      case None => 4
      case Some(v) => math.max(1, v.toIntOption.getOrElse(
        sys.error(s"SPARK_GRAFT_SUSTAINED_REPS must be an integer, got: '$v'")))
    }
    val loads = scala.collection.mutable.ArrayBuffer[Double]()
    val gcs = scala.collection.mutable.ArrayBuffer[Double]()
    val cpus = scala.collection.mutable.ArrayBuffer[Double]()
    val faults = scala.collection.mutable.ArrayBuffer[Double]()
    val jits = scala.collection.mutable.ArrayBuffer[Double]()
    val susReps = (1 to nSus).map { _ =>
      loads += loadavg1m
      val g0 = gcMillis
      val c0 = processCpuSec
      val f0 = minorFaults
      val j0 = jitMillis
      val t = timeSec(extract(semantic, repl))
      gcs += (gcMillis - g0).toDouble
      cpus += (processCpuSec - c0)
      faults += (minorFaults - f0).toDouble
      jits += (jitMillis - j0).toDouble
      t
    }
    loads += loadavg1m
    f"""{"docs":$nDocs,"chunk_reps":${jsonArr(chunkReps)},"semantic_reps":${jsonArr(semReps)},"sustained_repl":$repl,"sustained_reps":${jsonArr(susReps)},"sustained_gc_ms":${jsonArr(gcs.toSeq)},"sustained_cpu_sec":${jsonArr(cpus.toSeq)},"sustained_minflt":${jsonArr(faults.toSeq)},"sustained_jit_ms":${jsonArr(jits.toSeq)},"loadavg":${jsonArr(loads.toSeq)},"heap_max_mb":$heapMaxMb}"""
  }

  /** Spawn the extraction phases in a taskset-pinned child JVM with the
    * known-good heap; returns the child's JSON line, or None if the spawn
    * path is unavailable (no taskset) / the child failed — caller falls
    * back in-process and flags it in the artifact.
    */
  private def spawnExtractionChild(cpus: Int): Option[String] = scala.util.Try {
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val jvmArgs = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("--add-opens") || a.startsWith("-D"))
    }
    val cmd = Seq("taskset", "-c", s"0-${cpus - 1}", javaBin) ++ jvmArgs ++
      Seq(s"-Xmx$childMem", "-cp", sys.props("java.class.path"), "graft.Bench")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_BENCH_CHILD", "1")
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val code = p.waitFor()
    require(code == 0, s"bench child exited $code")
    out.linesIterator.toSeq.reverse.find(_.startsWith("{"))
      .getOrElse(sys.error(s"bench child produced no JSON; output:\n$out"))
  }.toOption

  private def field(json: String, name: String): String =
    ("\"" + name + "\":(\\[[^\\]]*\\]|[0-9.eE+-]+)").r.findFirstMatchIn(json)
      .getOrElse(sys.error(s"child JSON missing $name: $json")).group(1)

  private def arrMin(json: String, name: String): Double = {
    val a = field(json, name)
    a.stripPrefix("[").stripSuffix("]").split(",").map(_.toDouble).min
  }

  def main(args: Array[String]): Unit = {
    // the artifact is machine-parsed JSON: every f"" interpolation in this
    // process (parent AND child re-entry) must format with '.' decimals
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Bench.cpus

    if (sys.env.contains("SPARK_GRAFT_BENCH_CHILD")) {
      // child: extraction phases only, one JSON line, exit
      val spark = session(cpus)
      println(extractionPhases(spark, sfDir))
      spark.stop()
      return
    }

    val childJson = spawnExtractionChild(cpus.toInt)
    val spark = session(cpus)

    // warm the JVM/codegen for the query suite
    try force(SparkEntry.queries("q1_agg")(spark, "/root/testdata/sf0.001"))
    catch { case _: Throwable => () }

    // in-process fallback keeps the bench alive if the spawn path breaks,
    // flagged via "extract_child":false so the artifact is honest about it
    val (extractJson, childOk) = childJson match {
      case Some(j) => (j, true)
      case None => (extractionPhases(spark, sfDir), false)
    }
    val nDocs = field(extractJson, "docs").toLong
    val chunkSec = arrMin(extractJson, "chunk_reps")
    val semSec = arrMin(extractJson, "semantic_reps")
    val repl = field(extractJson, "sustained_repl").toInt
    val sustainedSec = arrMin(extractJson, "sustained_reps")
    val docsPerSec = nDocs / math.max(chunkSec, 1e-9)
    val semDocsPerSec = nDocs / math.max(semSec, 1e-9)
    val sustained = nDocs * repl / math.max(sustainedSec, 1e-9)

    // min-of-N per query: this VM's co-tenant load spikes random intervals
    // 5-20x (BENCH_r02 recorded 199.8s for a ~60s suite) — the official
    // artifact must not depend on landing in a quiet window. min (not mean)
    // because noise is strictly additive.
    // clamp: reps < 1 would make the empty-range .min throw, which the
    // per-query catch records as -1.0 for EVERY query (a silently-poisoned
    // official artifact) instead of flagging the bad env var; a non-numeric
    // value must likewise fail loudly naming the variable, not NFE mid-run
    val qreps = sys.env.get("SPARK_GRAFT_QUERY_REPS") match {
      case None => 3
      case Some(v) => v.toIntOption.map(math.max(1, _)).getOrElse(
        sys.error(s"SPARK_GRAFT_QUERY_REPS must be an integer, got: '$v'"))
    }
    val loadBefore = loadavg1m
    // a failing query is recorded as -1.0 and left out of `total`, so it is
    // also named in "failed" and its exception printed: a broken query must
    // not pass for a faster suite
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val sec = try (1 to qreps).map(_ => timeSec(force(fn(spark, sfDir)))).min
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          -1.0
        }
      name -> sec
    }
    val loadAfter = loadavg1m
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }.mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum + chunkSec + semSec
    // extract_* fields from the pinned child; the embedded "extract_detail"
    // object carries its per-rep times / GC / loadavg / heap fingerprint
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir","extraction_sec":$chunkSec%.3f,"extraction_docs_per_sec":$docsPerSec%.1f,"semantic_extraction_sec":$semSec%.3f,"semantic_docs_per_sec":$semDocsPerSec%.1f,"sustained_semantic_docs_per_sec":$sustained%.1f,"docs":$nDocs,"extract_child":$childOk,"parent_heap_mb":$heapMaxMb,"suite_loadavg":[$loadBefore%.2f,$loadAfter%.2f],"extract_detail":$extractJson}"""
    println(line)
    // the driver's stdout capture has truncated the line's head in past
    // rounds ("parsed": null) — also persist the identical JSON to a file
    // so every round's full per-query record survives in the repo.
    // SPARK_GRAFT_BENCH_OUT anchors the path; without it a launcher with a
    // foreign cwd (cron, CI) would drop the file somewhere unfindable.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json"))
    try {
      java.nio.file.Files.writeString(outPath, line + "\n")
      System.err.println(s"[bench] wrote ${outPath.toAbsolutePath}")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ${outPath.toAbsolutePath} write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
