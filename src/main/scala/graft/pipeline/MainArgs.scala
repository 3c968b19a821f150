package graft.pipeline

import org.apache.spark.sql.SparkSession

/** The launcher of the spark-submit mains: each main checks its arguments
  * here before any session exists, then runs its body through [[launch]],
  * the one place a main's session is built and stopped.
  */
private[pipeline] object MainArgs {

  /** `args`, when their count fits `usage`: one argument per `<required>`
    * or `[optional]` word after the main's name; else fails with `usage`.
    */
  def arity(args: Array[String], usage: String): Array[String] = {
    val words = usage.split(' ').drop(2).takeWhile(w => w.startsWith("<") || w.startsWith("["))
    val required = words.count(_.startsWith("<"))
    require(args.length >= required && args.length <= words.length, usage)
    args
  }

  /** `value` as an integer >= 1; anything else fails naming `what`. */
  def positiveInt(what: String, value: String, usage: String): Int =
    value.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"$what must be a positive integer, got '$value'; $usage"))

  /** Runs a main's body. An in-process caller's session is used and kept;
    * otherwise the body gets a new [[session]], stopped when it ends.
    */
  def launch(appName: String)(body: SparkSession => Unit): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(spark) => body(spark)
      case None =>
        val spark = session(appName)
        try body(spark) finally spark.stop()
    }

  /** The mains' session: the graft extensions, `spark.master` (set by
    * spark-submit; `local[*]` for a bare run) and WARN logging. Every
    * other setting is Spark's default or the deployer's `--conf`.
    */
  private[pipeline] def session(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.GraftExtensions)
      .master(sys.props.getOrElse("spark.master", "local[*]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
