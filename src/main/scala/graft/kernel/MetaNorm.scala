package graft.kernel

/** T6–T9: metadata extract / normalize / date-normalize.
  *
  * Reference: `/root/reference/src/ingestion/metadata_schema.py:11-28`
  * (safe_str + 9-field projection), `src/ingestion/normalizer.py:3-23`
  * (key/value normalize, date normalize). T10's flatten is Catalyst, in
  * `q_meta_flatten` and `q_meta_flatten_list`.
  */
object MetaNorm {

  /** The reference's fixed 9-field metadata record (metadata_schema.py:18-28). */
  final case class DocMeta(
      title: String,
      author: String,
      producer: String,
      creator: String,
      creationDate: String,
      modificationDate: String,
      keywords: String,
      appleKeywords: Seq[String],
      rgid: String)

  /** T8 `safe_str` (metadata_schema.py:11-16): None→"", else str(v).strip(). */
  def safeStr(v: Any): String = v match {
    case null      => ""
    case s: String => PyText.strip(s)
    case other     => PyText.strip(String.valueOf(other))
  }

  /** T9 `extract_metadata` (metadata_schema.py:18-28): project the 9 PDF
    * info keys into the fixed record.
    */
  def extractMetadata(meta: Map[String, Any]): DocMeta = {
    def g(k: String) = safeStr(meta.getOrElse(k, ""))
    val apple = meta.get("/AAPL:Keywords") match {
      case Some(xs: Seq[_]) => xs.map(String.valueOf(_))
      case _                => Seq.empty[String]
    }
    DocMeta(
      title = g("/Title"), author = g("/Author"), producer = g("/Producer"),
      creator = g("/Creator"), creationDate = g("/CreationDate"),
      modificationDate = g("/ModDate"), keywords = g("/Keywords"),
      appleKeywords = apple, rgid = g("/rgid"))
  }

  /** T6 `normalize_metadata` (normalizer.py:3-15): lowercase keys, strip
    * string values (non-strings pass through). Later duplicate keys win,
    * matching Python dict insertion/overwrite order.
    */
  def normalizeMetadata(meta: Seq[(String, String)]): Seq[(String, String)] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for ((k, v) <- meta) out(PyText.lower(k)) = if (v == null) null else PyText.strip(v)
    out.toSeq
  }

  private val IsoDate = "^(\\d{4})-(\\d{1,2})-(\\d{1,2})$".r

  /** T7 `normalize_date` (normalizer.py:17-23): strptime('%Y-%m-%d') →
    * isoformat, original string on parse failure. Python's %m/%d accept
    * non-zero-padded components; %Y here is constrained to 4 digits (the
    * fixture/golden contract uses 4-digit years). Python's datetime has no
    * year 0 (MINYEAR = 1), so `0000-…` is a parse failure there too.
    */
  def normalizeDate(dateStr: String): String = dateStr match {
    case IsoDate(y, m, d) if y != "0000" =>
      try {
        java.time.LocalDate.of(y.toInt, m.toInt, d.toInt) // rejects month 13, Feb 30, ...
        // concatenation, not an f-interpolator: `q_date_normalize` runs this
        // per row, and java.util.Formatter parses its pattern on every call
        s"$y-${pad2(m)}-${pad2(d)}T00:00:00"
      } catch { case _: java.time.DateTimeException => dateStr }
    case _ => dateStr
  }

  private def pad2(field: String): String = if (field.length == 1) "0" + field else field
}
