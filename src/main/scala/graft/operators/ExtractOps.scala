package graft.operators

import graft.kernel.{Chunker, MetaNorm, Paragraphs, PyText, TextClean}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Extraction / cleaning operator queries (SURVEY.md §2.2, §2.3).
  *
  * The documents table text is single-line, so the cleaning queries first
  * synthesize line-structure deterministically (identical literal `replace`
  * chain on both engines) and then apply the reference-semantics transforms.
  * A rule that extraction runs or a golden checks (C1, C7, C8, T1–T5, T7)
  * is served by its `graft.kernel` implementation through [[kernel]]; the
  * other rules (T6, T10–T12) are Catalyst. The DuckDB oracles restate
  * every rule in SQL.
  */
object ExtractOps {

  /** Deterministic line-structure synthesis, shared by Spark + oracle. */
  private[operators] val structureSpark =
    """replace(replace(replace(replace(text,
      |  ' merge ', '-\nmerge '),
      |  ' data ', ' \n\ndata '),
      |  ' join ', ' \r\njoin '),
      |  ' the ', ' \n\n\n\nthe ')""".stripMargin
  private[operators] val structureDuck =
    """replace(replace(replace(replace(text,
      |  ' merge ', '-' || chr(10) || 'merge '),
      |  ' data ', ' ' || chr(10) || chr(10) || 'data '),
      |  ' join ', ' ' || chr(13) || chr(10) || 'join '),
      |  ' the ', ' ' || repeat(chr(10), 4) || 'the ')""".stripMargin

  /** Python's `str.strip()` set as a DuckDB `trim` list: the code points
    * `PyText.isPySpace` accepts (none lies above U+FFFF).
    */
  private[operators] val pySpaceDuck: String =
    (0 to 0xFFFF).filter(PyText.isPySpace).map(cp => s"chr($cp)").mkString(" || ")

  /** The oracle's T1–T5 `_clean_page_text` (`TextClean.cleanPageText`)
    * in RE2, which has no lookarounds, over an arbitrary input expression:
    * after the 3+-newline collapse, newline runs are exactly 1 or 2 long, so
    * `\n\n`→sentinel, `\n`→space, sentinel→`\n\n` is equivalent to the
    * lookaround rule.
    */
  private[operators] def cleanOf(inner: String) =
    s"""trim(
       |  regexp_replace(
       |    replace(replace(replace(
       |      regexp_replace(
       |        regexp_replace(
       |          replace($inner, chr(13), chr(10)),
       |          '(\\w)-\\n(\\w)', '\\1\\2', 'g'),
       |        '\\n{3,}', chr(10) || chr(10), 'g'),
       |      chr(10) || chr(10), chr(1)), chr(10), ' '), chr(1), chr(10) || chr(10)),
       |    '[ \\t]+', ' ', 'g'),
       |  $pySpaceDuck)""".stripMargin

  /** The oracle's T7 `normalize_date` of a VARCHAR expression. The shape
    * and year gates are `MetaNorm.normalizeDate`'s: DuckDB's `try_strptime`
    * also parses a padded or signed string (`' 2024-01-01'`) and year 0,
    * which Python's `strptime` returns unchanged.
    */
  private def normDateDuck(x: String) =
    s"""coalesce(strftime(CASE WHEN regexp_full_match($x, '[0-9]{4}-[0-9]{1,2}-[0-9]{1,2}')
       |  AND NOT starts_with($x, '0000') THEN try_strptime($x, '%Y-%m-%d') END,
       |  '%Y-%m-%dT%H:%M:%S'), $x)""".stripMargin

  /** A `graft.kernel` rule, the golden-tested implementation that
    * extraction runs, as a column function. A NULL text stays NULL: a
    * rule that yields one value per row returns NULL, and a rule that
    * yields rows gives a NULL array, which `posexplode` turns into no rows.
    */
  private def kernel[A: TypeTag](rule: String => A)(text: Column): Column =
    udf((t: String) => if (t == null) null.asInstanceOf[A] else rule(t)).apply(text)

  /** `key` and one row per item of [[kernel]]`(rule)` over `text`, numbered
    * from 0 in the bigint column `index`.
    */
  private def kernelRows(rows: DataFrame, key: Column, text: Column, index: String, item: String)(
      rule: String => Seq[String]): DataFrame =
    rows.select(key, posexplode(kernel(rule)(text)).as(Seq(index, item)))
      .withColumn(index, col(index).cast("bigint"))

  val ops: Seq[Op] = Seq(

    // C1–C3: fixed 500/80 chunking (chunk_document.py; live path). The
    // filter and 2-column projection push into the parquet scan.
    Op("q_chunk_fixed",
      """SELECT d.doc_id, g.i AS chunk_index,
        |       substring(d.text, CAST(g.i*420+1 AS INT), 500) AS chunk_text
        |FROM documents d,
        |     LATERAL (SELECT unnest(generate_series(0, CAST(ceil(length(d.text)/420.0) AS BIGINT)-1)) AS i) g
        |WHERE length(d.text) > 0
        |ORDER BY doc_id, chunk_index""".stripMargin) { (s, dir) =>
      kernelRows(Tables.documents(s, dir).where(length(col("text")) > 0), col("doc_id"), col("text"),
        "chunk_index", "chunk_text")(Chunker.chunkText(_))
        .orderBy("doc_id", "chunk_index")
    },

    // T1–T5 cleaning chain over synthesized line structure.
    Op("q_clean_text",
      s"SELECT doc_id, ${cleanOf(structureDuck)} AS cleaned FROM documents ORDER BY doc_id") { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), kernel(TextClean.cleanPageText)(expr(structureSpark)).as("cleaned"))
        .orderBy("doc_id")
    },

    // T12 truncate (app.py:44-48): 500-char cap + "..." (docs up to 558 chars
    // exercise both branches).
    Op("q_truncate",
      s"SELECT doc_id, ${Idioms.truncateDuck("text")} AS snippet FROM documents ORDER BY doc_id") { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), Idioms.truncateSpark(col("text")).as("snippet"))
        .orderBy("doc_id")
    },

    // T11 highlight (app.py:69-80): fold of case-insensitive wraps, query
    // "spark merge join" (all tokens len>2), applied in token order.
    Op("q_highlight",
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text, '(spark)', '<mark>\1</mark>', 'gi'),
        |      '(merge)', '<mark>\1</mark>', 'gi'),
        |    '(join)', '<mark>\1</mark>', 'gi') AS highlighted
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val h = Seq("spark", "merge", "join").foldLeft(col("text")) { (c, tok) =>
        regexp_replace(c, s"(?i)($tok)", "<mark>$1</mark>")
      }
      Tables.documents(s, dir).select(col("doc_id"), h.as("highlighted")).orderBy("doc_id")
    },

    // T6+T10: metadata normalize (lower keys, trim values) + flatten to
    // meta_-prefixed rows, dropping empty values (vector_store.py:45-59).
    // The map is built from document columns; `note` is empty for doc_id%3=0
    // rows and must be dropped by the flatten.
    Op("q_meta_flatten",
      """SELECT * FROM (
        |  SELECT doc_id, 'meta_title' AS meta_key, trim(' ' || source || ' ') AS meta_value FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'meta_lang', lower(lang) FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'meta_note', 'n' || CAST(doc_id AS VARCHAR) FROM documents WHERE doc_id % 3 <> 0
        |) ORDER BY doc_id, meta_key""".stripMargin) { (s, dir) =>
      val meta = Tables.documents(s, dir).select(col("doc_id"),
        map(
          lit("Title"), concat(lit(" "), col("source"), lit(" ")),
          lit("LANG"), col("lang"),
          lit("Note"), when(col("doc_id") % 3 === 0, lit("")).otherwise(concat(lit("n"), col("doc_id").cast("string")))
        ).as("m"))
      val normalized = meta.select(col("doc_id"),
        expr("transform_keys(transform_values(m, (k, v) -> trim(v)), (k, v) -> lower(k))").as("m"))
      normalized
        .select(col("doc_id"), explode(expr("map_filter(m, (k, v) -> v <> '')")).as(Seq("k", "v")))
        .select(col("doc_id"), concat(lit("meta_"), col("k")).as("meta_key"), col("v").as("meta_value"))
        .orderBy("doc_id", "meta_key")
    },

    // T10 list-valued metadata flatten (vector_store.py:53-55): list values
    // keep only items not in (None, ''), stringify each, and an all-empty
    // list drops the key entirely — here emitted one row per surviving item
    // with its position, so order preservation is value-checked too.
    Op("q_meta_flatten_list",
      """SELECT doc_id, 'meta_tags' AS meta_key,
        |       CAST(g.i - 1 AS BIGINT) AS item_index, tags[g.i] AS meta_value
        |FROM (
        |  SELECT doc_id, list_filter([
        |      CASE WHEN doc_id % 7 = 0 THEN NULL ELSE source END,
        |      CASE WHEN doc_id % 3 = 0 THEN '' ELSE 'v' || CAST(doc_id AS VARCHAR) END,
        |      CASE WHEN doc_id % 7 = 0 THEN '' ELSE lower(lang) END,
        |      CAST(doc_id % 10 AS VARCHAR)
        |    ], x -> x IS NOT NULL AND x <> '') AS tags
        |  FROM documents)
        |, LATERAL (SELECT unnest(generate_series(1, len(tags))) AS i) g
        |WHERE len(tags) > 0
        |ORDER BY doc_id, item_index""".stripMargin) { (s, dir) =>
      val withList = Tables.documents(s, dir).select(col("doc_id"),
        array(
          when(col("doc_id") % 7 === 0, lit(null: String)).otherwise(col("source")),
          when(col("doc_id") % 3 === 0, lit("")).otherwise(concat(lit("v"), col("doc_id").cast("string"))),
          when(col("doc_id") % 7 === 0, lit("")).otherwise(lower(col("lang"))),
          (col("doc_id") % 10).cast("string")
        ).as("tags0"))
      withList
        .select(col("doc_id"), expr("filter(tags0, x -> x IS NOT NULL AND x <> '')").as("tags"))
        .where(size(col("tags")) > 0)
        .select(col("doc_id"), lit("meta_tags").as("meta_key"),
          posexplode(col("tags")).as(Seq("item_index", "meta_value")))
        .select(col("doc_id"), col("meta_key"),
          col("item_index").cast("bigint").as("item_index"), col("meta_value"))
        .orderBy("doc_id", "item_index")
    },

    // T7 normalize_date (normalizer.py:17-23): ISO on parse success, original
    // on failure. Good input from o_orderdate; o_orderpriority as malformed.
    Op("q_date_normalize",
      s"""SELECT o_orderkey,
         |  ${normDateDuck("strftime(o_orderdate, '%Y-%m-%d')")} AS norm_date,
         |  ${normDateDuck("o_orderpriority")} AS norm_bad
         |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir).select(col("o_orderkey"),
          kernel(MetaNorm.normalizeDate)(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("norm_date"),
          kernel(MetaNorm.normalizeDate)(col("o_orderpriority")).as("norm_bad"))
        .orderBy("o_orderkey")
    },

    // C7 extract_paragraphs; the DuckDB oracle re-expresses BOTH branches
    // in SQL: the blank-line branch as split/strip/filter, and the greedy
    // sentence-grouping fold via list_reduce over a sentinel-encoded
    // (emitted, buf) state string (chr(3) joins emitted paragraphs, chr(4)
    // separates state fields, chr(2) marks sentence boundaries — none occur
    // in the data).
    Op("q_paragraphs", ParagraphOracles.extractParagraphsSql) { (s, dir) =>
      kernelRows(Tables.documents(s, dir), col("doc_id").cast("string").as("doc_id"), expr(structureSpark),
        "paragraph_index", "paragraph")(Paragraphs.extractParagraphs)
        .orderBy("doc_id", "paragraph_index")
    },

    // C8 paragraphize — merge-short fold; oracle is the same list_reduce
    // trick (merge-into-previous == append-to-accumulator-tail, because the
    // previous paragraph is always the tail of the folded state string).
    Op("q_paragraphize", ParagraphOracles.paragraphizeSql) { (s, dir) =>
      kernelRows(Tables.documents(s, dir), col("doc_id").cast("string").as("doc_id"), expr(structureSpark),
        "paragraph_index", "paragraph")(Paragraphs.paragraphize(_))
        .orderBy("doc_id", "paragraph_index")
    }
  )
}

/** DuckDB re-expressions of the sequential paragraph folds (C7/C8), so the
  * driver can fully oracle them instead of a weaker rows-only check.
  *
  * Fold-as-SQL technique: the kernel's sequential state is encoded into one
  * string accumulator — `emitted ++ chr(4) ++ buf`, with emitted paragraphs
  * joined by chr(3) — and list_reduce applies the exact per-element rule.
  * RE2 has no lookarounds, so the Python sentence boundary
  * `(?<=[.!?])\s+(?=[A-Z])` becomes a consuming sentinel rewrite (the char
  * classes are disjoint, so non-overlapping consumption is equivalent).
  */
private[operators] object ParagraphOracles {

  import ExtractOps.{cleanOf, pySpaceDuck, structureDuck}

  /** paragraphize candidate: lines normalized+joined == \n→space, collapse
    * space runs, Python-strip.
    */
  private def normPara(p: String) =
    s"trim(regexp_replace(replace($p, chr(10), ' '), '[ \\t]+', ' ', 'g'), $pySpaceDuck)"

  val paragraphizeSql: String =
    s"""WITH s AS (SELECT doc_id, $structureDuck AS raw FROM documents),
       |c AS (SELECT doc_id,
       |  list_filter(
       |    list_transform(
       |      regexp_split_to_array(replace(raw, chr(13), ''), '\\n\\s*\\n+'),
       |      p -> ${normPara("p")}),
       |    x -> x <> '') AS cs
       |  FROM s),
       |folded AS (SELECT doc_id,
       |  CASE WHEN len(cs) = 0 THEN []::VARCHAR[]
       |       ELSE str_split(list_reduce(cs, (acc, x) ->
       |         CASE WHEN length(x) < 20 THEN acc || ' ' || x
       |              ELSE acc || chr(2) || x END), chr(2))
       |  END AS paras FROM c)
       |SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(g.i - 1 AS BIGINT) AS paragraph_index,
       |       paras[g.i] AS paragraph
       |FROM folded, LATERAL (SELECT unnest(generate_series(1, len(paras))) AS i) g
       |ORDER BY doc_id, paragraph_index""".stripMargin

  val extractParagraphsSql: String = {
    // blank-line branch over the CLEANED text (branch test is on RAW)
    val blank =
      s"list_filter(list_transform(str_split(cleaned, chr(10) || chr(10)), p -> trim(p, $pySpaceDuck)), x -> x <> '')"
    // sentence split: consuming sentinel stand-in for the lookaround split
    val sents =
      s"""list_filter(list_transform(
         |  str_split(regexp_replace(cleaned, '([.!?])(\\s+)([A-Z])', '\\1' || chr(2) || '\\3', 'g'), chr(2)),
         |  t -> trim(t, $pySpaceDuck)), x -> x <> '')""".stripMargin
    // greedy 600/80 grouping fold (extract_paragraphs.py:27-48)
    val newbuf = "(CASE WHEN split_part(acc, chr(4), 2) = '' THEN s ELSE split_part(acc, chr(4), 2) || ' ' || s END)"
    val emitted = "split_part(acc, chr(4), 1)"
    val append = s"(CASE WHEN $emitted = '' THEN $newbuf ELSE $emitted || chr(3) || $newbuf END)"
    val lambda =
      s"""(acc, s) -> CASE
         |  WHEN length($newbuf) + 1 >= 600 THEN
         |    (CASE WHEN length($newbuf) >= 80 THEN $append ELSE $emitted END) || chr(4)
         |  ELSE $emitted || chr(4) || $newbuf END""".stripMargin
    val finalFlush =
      s"""(CASE WHEN split_part(st, chr(4), 2) <> '' AND length(split_part(st, chr(4), 2)) >= 80
         |  THEN (CASE WHEN split_part(st, chr(4), 1) = '' THEN split_part(st, chr(4), 2)
         |        ELSE split_part(st, chr(4), 1) || chr(3) || split_part(st, chr(4), 2) END)
         |  ELSE split_part(st, chr(4), 1) END)""".stripMargin
    s"""WITH s AS (SELECT doc_id, $structureDuck AS raw FROM documents),
       |c AS (SELECT doc_id, raw, ${cleanOf("raw")} AS cleaned FROM s),
       |branched AS (SELECT doc_id,
       |  CASE WHEN trim(raw, $pySpaceDuck) = '' THEN []::VARCHAR[]
       |       WHEN contains(raw, chr(10) || chr(10)) THEN $blank
       |       ELSE (
       |         SELECT list_filter(str_split($finalFlush, chr(3)), x -> x <> '')
       |         FROM (SELECT CASE WHEN len($sents) = 0 THEN chr(4)
       |                    ELSE list_reduce(list_prepend(chr(4), $sents), $lambda) END AS st) z
       |       ) END AS paras0
       |  FROM c),
       |final AS (SELECT doc_id, list_filter(paras0, p -> length(p) >= 80) AS paras FROM branched)
       |SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(g.i - 1 AS BIGINT) AS paragraph_index,
       |       paras[g.i] AS paragraph
       |FROM final, LATERAL (SELECT unnest(generate_series(1, len(paras))) AS i) g
       |ORDER BY doc_id, paragraph_index""".stripMargin
  }
}
