package graft

import org.apache.spark.sql.SparkSession

/** Round-6 isolation bench (guide §1.4): times individual queries through
  * the SAME session shape as the frozen `Bench` main (master/AQE/shuffle
  * partitions from the env), forcing full evaluation via the noop sink, and
  * optionally dumps `explain("formatted")` per query for the plan record.
  *
  * Usage: runMain graft.BenchExtra <sfDir> <reps> [--plans <dir>] <query>...
  * `all` expands to every registered query. This main is measurement-only —
  * the official artifact remains `graft.Bench`'s JSON line.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args.head
    val reps = args(1).toInt
    val (planDir, names0) = args.drop(2).toSeq match {
      case "--plans" +: dir +: rest => (Some(dir), rest)
      case rest => (None, rest)
    }
    val names =
      if (names0.contains("all")) SparkEntry.queries.keys.toSeq.sorted
      else names0
    val spark = Bench.session(Bench.cpus)
    // warm codegen/JIT on the smallest input so per-query numbers measure
    // the plan, not first-run compilation
    try Bench.force(SparkEntry.queries("q1_agg")(spark, "/root/testdata/sf0.001"))
    catch { case _: Throwable => () }
    planDir.foreach(d => new java.io.File(d).mkdirs())
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      planDir.foreach { d =>
        // AQE off for the DUMP only (the DumpPlans convention): exchange
        // reuse is a static-planning feature whose runtime twin (AQE stage
        // reuse) is invisible in a pre-execution explain — with AQE on the
        // dump would show N un-reused scans that never actually run
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try {
          val df = fn(spark, sfDir)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$d/$name.txt"),
            df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
        } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
      spark.sparkContext.setJobDescription(name)
      if (reps == 0) println(s"[benchextra] $name plan-only")
      else {
        val secs = (1 to reps).map(_ => Bench.timeSec(Bench.force(fn(spark, sfDir))))
        println(f"[benchextra] $name min=${secs.min}%.3f reps=${secs.map(x => f"$x%.3f").mkString(",")} load=${Bench.loadavg1m}%.2f")
      }
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
