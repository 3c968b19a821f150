package graft.kernel

import java.util.regex.Pattern

/** T1–T5 page-text cleaning chain + whitespace normalization.
  *
  * Reference semantics: `/root/reference/src/ingestion/extract_paragraphs.py:9-21`
  * (`_clean_page_text`), `src/ingestion/paragraph_utils.py:3-4`
  * (`normalize_whitespace`). Pure Scala, zero Spark imports — runs inside
  * the typed mapPartitions kernel stage and `q_clean_text`, and is
  * unit-tested against reference goldens.
  */
object TextClean {

  // (?U) => Unicode-aware \w / \s, matching Python 3 `re` defaults.
  private val hyphenBreak   = Pattern.compile("(?U)(\\w)-\\n(\\w)")
  private val manyNewlines  = Pattern.compile("\\n{3,}")
  private val loneNewline   = Pattern.compile("(?<!\\n)\\n(?!\\n)")
  private val spaceRuns     = Pattern.compile("[ \\t]+")

  /** `_clean_page_text` (extract_paragraphs.py:9-21):
    * \r→\n; de-hyphenate across line breaks; collapse 3+ newlines to 2;
    * lone newline → space; collapse space/tab runs; strip.
    */
  def cleanPageText(txt: String): String = {
    var t = txt.replace('\r', '\n')
    t = hyphenBreak.matcher(t).replaceAll("$1$2")
    t = manyNewlines.matcher(t).replaceAll("\n\n")
    t = loneNewline.matcher(t).replaceAll(" ")
    t = spaceRuns.matcher(t).replaceAll(" ")
    PyText.strip(t)
  }

  /** `normalize_whitespace` (paragraph_utils.py:3-4): collapse space/tab
    * runs then Python-strip. Manual single pass — this runs per HTML block
    * in the hot kernel path, where the regex matcher's allocations dominated
    * the 32-thread profile.
    */
  def normalizeWhitespace(text: String): String = {
    val n = text.length
    var i = 0
    // fast path: nothing to collapse
    var needs = false
    var prevSpaceish = false
    while (i < n && !needs) {
      val c = text.charAt(i)
      val sp = c == ' ' || c == '\t'
      if (sp && (prevSpaceish || c == '\t')) needs = true
      prevSpaceish = sp
      i += 1
    }
    if (!needs) return PyText.strip(text)
    val sb = new java.lang.StringBuilder(n)
    i = 0
    prevSpaceish = false
    while (i < n) {
      val c = text.charAt(i)
      if (c == ' ' || c == '\t') {
        if (!prevSpaceish) sb.append(' ')
        prevSpaceish = true
      } else {
        sb.append(c)
        prevSpaceish = false
      }
      i += 1
    }
    PyText.strip(sb.toString)
  }
}
