package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** The benchmark's JVM side, launched by `perfbench/run.py`:
  *
  *   Harness mode=<run|trace> workload=<extract|curate>
  *           data=<dir with one input dir per workload> work=<scratch dir>
  *           seconds=<n> seed=<n> out=<result.json> t0_us=<epoch µs>
  *
  *  - `run` (extract or curate): build the session and make the workload's
  *    first call (the set-up time is process start → end of that call),
  *    then time the workload untraced for `seconds`;
  *  - `trace`: set up, then run the traced section of every workload
  *    (per-layer spans and Spark task counters); the run's own workload
  *    also times untraced operations, for the tracing overhead.
  *
  * Raw samples go to `out` as JSON; run.py turns them into metrics.
  */
object Harness {

  final class Ctx(val spark: SparkSession, val data: Path, val work: Path,
      val seconds: Double, val seed: Long) {
    def input(workload: String): String = data.resolve(workload).toString
    def scratch(name: String): String = {
      val p = work.resolve(name)
      deleteTree(p)
      p.toString
    }
  }

  /** Samples of one untraced measurement loop. */
  final class Samples {
    val opSeconds = mutable.ArrayBuffer[Double]()
    val cpuSeconds = mutable.ArrayBuffer[Double]()
    val stealSeconds = mutable.ArrayBuffer[Double]()
    var itemsPerOp = 1L
    var attempted = 0L
    var failed = 0L
    val checks = mutable.ArrayBuffer[String]()
    def check(name: String, ok: Boolean, covers: Long, detail: String = ""): Unit = {
      checks += Json.obj("name" -> name, "ok" -> ok, "covers" -> covers, "detail" -> detail)
      if (!ok) failed += covers
    }

    /** Times one operation: wall seconds (a failed one keeps its time),
      * this JVM's CPU seconds, and the CPU seconds the host stole from this
      * machine's vCPUs while it ran. Returns whether it succeeded.
      */
    def time(op: => Unit): Boolean = {
      val c0 = cpuNow()
      val s0 = stealNow()
      val t0 = System.nanoTime()
      val ok = scala.util.Try(op).isSuccess
      opSeconds += (System.nanoTime() - t0) / 1e9
      cpuSeconds += cpuNow() - c0
      stealSeconds += stealNow() - s0
      ok
    }
  }

  def cpuNow(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Stolen CPU seconds of all vCPUs since boot (/proc/stat, USER_HZ = 100). */
  def stealNow(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+")(8).toDouble / 100
    finally src.close()
  }

  trait Workload {
    /** The first call a fresh process makes; its end closes set-up. */
    def warmup(ctx: Ctx): Unit
    /** Traced section (after this workload's warm-up, in a process that
      * may have run other workloads): its per-layer metrics, plus
      * `trace.overhead_s` (traced minus untraced time of the same
      * operation) when `overhead` is set.
      */
    def trace(ctx: Ctx, tracer: Tracer, overhead: Boolean): Map[String, Double]
  }

  /** A workload that `run` mode times. */
  trait Measured extends Workload {
    /** Untraced loop over the workload's operations for ctx.seconds. */
    def measure(ctx: Ctx): Samples
  }

  val measured: Map[String, Measured] = Map("extract" -> ExtractBench, "curate" -> CurateBench)
  val workloads: Map[String, Workload] = measured + ("retrieve" -> RetrieveBench)

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val mode = kv("mode")
    val workload = kv("workload")
    val work = Paths.get(kv("work")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val phases = mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    val spark = session(cpus, work)
    phase("session_s")
    val ctx = new Ctx(spark, Paths.get(kv("data")).toAbsolutePath, work,
      kv("seconds").toDouble, kv("seed").toLong)
    val w = workloads(workload)

    w.warmup(ctx)
    val setupS = (nowMicros() - kv("t0_us").toLong) / 1e6
    phase("warmup_s")
    val fields = mutable.ArrayBuffer[(String, Any)](
      "mode" -> mode, "workload" -> workload, "setup_s" -> setupS, "host" -> Json.Raw(host(spark)))

    mode match {
      case "run" =>
        val s = measured(workload).measure(ctx)
        fields ++= Seq("op_s" -> s.opSeconds.toSeq, "op_cpu_s" -> s.cpuSeconds.toSeq,
          "op_steal_s" -> s.stealSeconds.toSeq, "items_per_op" -> s.itemsPerOp,
          "attempted" -> s.attempted, "failed" -> s.failed,
          "checks" -> Json.Raw(s.checks.mkString("[", ",", "]")), "vmhwm_kb" -> vmHwmKb())
      case "trace" =>
        val tracer = new Tracer(spark)
        val layer = mutable.LinkedHashMap[String, Double]()
        // every traced run covers every layer, so each workload's section
        // runs (after its warm-up); only this run's workload also times
        // untraced operations to compare with, for the tracing overhead
        for (name <- Seq("extract", "retrieve", "curate")) {
          if (name != workload) workloads(name).warmup(ctx)
          layer ++= tracer.span(s"bench.$name")(workloads(name).trace(ctx, tracer, name == workload))
        }
        tracer.close()
        val spansPath = work.resolve("spans.jsonl")
        tracer.write(spansPath)
        fields ++= Seq("layer" -> layer, "spans" -> spansPath.toString)
    }
    phase("rest_s")
    fields += "phases" -> phases
    Files.write(Paths.get(kv("out")), Json.obj(fields.toSeq: _*).getBytes("UTF-8"))
    spark.stop()
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def host(spark: SparkSession): String = Json.obj(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "mem_total_kb" -> procField("/proc/meminfo", "MemTotal:"),
    "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "java" -> System.getProperty("java.version"),
    "spark" -> spark.version,
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))

  def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def vmHwmKb(): Long = procField("/proc/self/status", "VmHWM:")

  private def procField(file: String, key: String): Long = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().find(_.startsWith(key)).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Per-row cost in ns of the projection `withCall` over the same cached
    * frame as `without`: interleaved reps, median difference.
    */
  def exprCostNs(tracer: Tracer, name: String, rows: Long, reps: Int,
      without: => DataFrame, withCall: => DataFrame): Double = {
    force(without); force(withCall) // plan + codegen outside the timing
    val diffs = (1 to reps).map { _ =>
      val base = tracer.span(s"bench.${name}_baseline")(timed(force(without)))
      val full = tracer.span(s"functions.$name")(timed(force(withCall)))
      full - base
    }
    median(diffs) * 1e9 / rows
  }

  def duBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally st.close()
    }

  /** Operations run untimed after set-up: the second operation of a
    * process is still 20-40 % slower than later ones while the JIT compiles
    * the plans.
    */
  val UntimedOps = 1

  /** Every measurement times at least this many operations, so that a slow
    * host does not also change how many operations a statistic averages.
    */
  val MinOps = 3

  /** Start operations until `seconds` have passed and at least `MinOps`
    * have run (the last one started runs to its end).
    */
  def loop(seconds: Double)(op: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < MinOps) { op(i); i += 1 }
  }
}
