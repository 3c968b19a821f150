package graft.operators

/** The cross-engine SQL idioms every operator family shares. ONE copy —
  * each Spark form must stay in lockstep with its DuckDB twin, so drift
  * between per-file copies would silently break oracle parity.
  */
private[graft] object Idioms {

  /** Uniform 60-bit hash of a string expression — md5 prefix as bigint.
    * 60 bits (15 hex digits) because DuckDB's BIGINT is signed: a 16-digit
    * prefix could go negative there. The Spark side is the native
    * `md5prefix64` (registered by `GraftFunctions`), which equals the
    * portable `cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint)`.
    */
  def h60Spark(x: String) = s"md5prefix64($x)"
  def h60Duck(x: String)  = s"CAST('0x' || substring(md5($x), 1, 15) AS BIGINT)"

  /** Whitespace tokenization with empties dropped — the token definition
    * every token count, shingle, and packing computation agrees on.
    */
  val toksSpark = "filter(split(text, ' '), t -> t <> '')"
  val toksDuck  = "list_filter(str_split(text, ' '), t -> t <> '')"
}
