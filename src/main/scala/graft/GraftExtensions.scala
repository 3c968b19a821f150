package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSessionExtensions

/** Session extensions: register with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  *
  * Injects the native SQL functions of [[GraftFunctions.registrations]]
  * (`md5prefix64`, `vec_dot`, `minhash_sigs`, `simhash_bits`,
  * `winnow_pairs`), the same table [[GraftFunctions.ensure]] registers on
  * a session built without it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.registrations.foreach(ext.injectFunction)
}
