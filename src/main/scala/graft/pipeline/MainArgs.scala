package graft.pipeline

/** Argument parsing shared by the spark-submit mains, so a bad argument
  * fails with the main's usage line before any SparkSession is built.
  */
private[pipeline] object MainArgs {

  /** `value` as an integer >= 1; anything else fails naming `what`. */
  def positiveInt(what: String, value: String, usage: String): Int =
    value.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"$what must be a positive integer, got '$value'; $usage"))
}
