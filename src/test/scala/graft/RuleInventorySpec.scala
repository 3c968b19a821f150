package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Each rule has one Spark and one DuckDB spelling in main code: the
  * cross-engine twins in `Idioms`, the Spark-only and oracle-only pieces of
  * the near-dup and decontamination chain in one `DedupOps` helper each, the
  * R8 context budget in `RetrievalOps`. Every operator that applies a rule
  * (the curation verdict table, its oracle CTEs, `q_quality_score`,
  * `q_repetition`, `q_split_stratified`, `q_decontaminate`, streaming
  * curation, `q_truncate`, `q_context_budget`, `q_prompt_build`) calls that
  * definition.
  *
  * The query side follows the same discipline. The dot product, norm,
  * cosine, query vector, dense top-k and 0/1 feedback are `Idioms` twins,
  * called by `RetrievalOps`, `SimilarityOps`, `EvalOps`, `FeedbackOps`,
  * `q_embed_neardup`, `AnnIndex` and `PqIndex`; `AnnIndex.bruteForce` is
  * `q_dense_topk`'s plan. The rerank stand-in and sparse TF score are one
  * `RetrievalOps` helper each, the IVF cells (first-n centroids, nearest-
  * cell assignment, cosine over cached norms) one `SimilarityOps` helper
  * each. The oracles' Python whitespace set is `ExtractOps.pySpaceDuck`,
  * derived from `PyText.isPySpace`.
  *
  * The rules extraction runs (C1, T1–T5, T7) have their one JVM
  * spelling in `graft.kernel`, which the registry ops call; the DuckDB
  * oracle in `ExtractOps` is their only other spelling, so a Catalyst
  * restatement changes a count below. A second spelling of a rule needs an
  * edit of this table.
  */
class RuleInventorySpec extends AnyFunSuite {

  /** (rule, literal, occurrences of the literal per src/main file name). */
  private val rules: Seq[(String, String, Map[String, Int])] = Seq(
    ("stopword set, Spark", "size(filter($toks, t -> t IN ('the', 'a')))", Map("Idioms.scala" -> 1)),
    ("stopword set, DuckDB", "len(list_filter($toks, t -> t IN ('the', 'a')))", Map("Idioms.scala" -> 1)),
    ("quality composite, both engines", "/ 100.0) * 0.7", Map("Idioms.scala" -> 2)),
    ("micro-unit quality composite, both engines", "* 7000", Map("Idioms.scala" -> 2)),
    ("duplicate 3-gram fraction, Spark", "distinct.cast(\"double\") / total.cast(\"double\")",
      Map("Idioms.scala" -> 1)),
    ("duplicate 3-gram fraction, DuckDB", "CAST($distinct AS DOUBLE) / CAST($total AS DOUBLE)",
      Map("Idioms.scala" -> 1)),
    ("3-gram shingle, Spark", "element_at(toks, i + 2)", Map("Idioms.scala" -> 1)),
    ("3-gram shingle, DuckDB", "[i:i+2]", Map("Idioms.scala" -> 1)),
    ("80/10/10 split, Spark", "h60Spark(\"cast(doc_id as string)\")} % 10", Map("Idioms.scala" -> 1)),
    ("80/10/10 split, DuckDB", "h60Duck(\"CAST(doc_id AS VARCHAR)\")} % 10", Map("Idioms.scala" -> 1)),
    ("LSH candidate self-join, Spark", "col(\"a.bh\") === col(\"b.bh\")", Map("DedupOps.scala" -> 1)),
    ("LSH candidate self-join, DuckDB", "a.bh = b.bh AND a.doc_id < b.doc_id", Map("DedupOps.scala" -> 1)),
    ("signature split into mh columns", "col(\"sigs\")(j)", Map("DedupOps.scala" -> 1)),
    ("exact-Jaccard verify, Spark", "jac >= 0.5", Map("DedupOps.scala" -> 1)),
    ("exact-Jaccard verify, DuckDB", "AS DOUBLE) >= 0.5", Map("DedupOps.scala" -> 1)),
    ("decontamination match, Spark", ".join(broadcast(bench), \"shingle\")", Map("DedupOps.scala" -> 1)),
    ("decontamination match, DuckDB", "JOIN bench b ON b.shingle = t.shingle", Map("DedupOps.scala" -> 1)),
    ("T12 truncate, Spark", "concat(substring(text, 1, 500), lit(\"...\"))", Map("Idioms.scala" -> 1)),
    ("T12 truncate, DuckDB", "substring($text, 1, 500) || '...'", Map("Idioms.scala" -> 1)),
    ("T12 truncate, any spelling", "1, 500)", Map("Idioms.scala" -> 2)),
    ("R8 context budget, Spark", "col(\"cum_chars\") <= 4000", Map("RetrievalOps.scala" -> 1)),
    ("R8 context budget, DuckDB", "WHERE cum_chars <= 4000", Map("RetrievalOps.scala" -> 1)),
    ("C1 chunk windows, kernel", "PyText.slice(text, start, math.min(start + chunkSize, n))",
      Map("Chunker.scala" -> 1)),
    ("C1 chunk window start, DuckDB", "*420", Map("ExtractOps.scala" -> 1)),
    ("T2 hyphen break, kernel", "(?U)(\\\\w)-\\\\n(\\\\w)", Map("TextClean.scala" -> 1)),
    ("T2 hyphen break, kernel and DuckDB", "w)-", Map("TextClean.scala" -> 1, "ExtractOps.scala" -> 1)),
    ("T3 3+ newline collapse, kernel and DuckDB", "n{3,}",
      Map("TextClean.scala" -> 1, "ExtractOps.scala" -> 1, "Paragraphs.scala" -> 1)),
    ("T4 lone newline, kernel", "(?<!", Map("TextClean.scala" -> 1)),
    ("T5 space runs, kernel and the clean and paragraphize oracles", "[ \\\\t]+",
      Map("TextClean.scala" -> 1, "ExtractOps.scala" -> 2)),
    ("T7 date shape, kernel", "^(\\\\d{4})-(\\\\d{1,2})-(\\\\d{1,2})$", Map("MetaNorm.scala" -> 1)),
    ("T7 date shape, DuckDB", "{4}-", Map("ExtractOps.scala" -> 1)),
    ("T7 date parse, never Catalyst", "to_timestamp", Map.empty[String, Int]),
    ("dot product, Spark (the native function and its registration)", "vec_dot(",
      Map("Idioms.scala" -> 1, "GraftFunctions.scala" -> 2)),
    ("dot product, DuckDB", "CAST(z[1] AS DOUBLE)", Map("Idioms.scala" -> 1)),
    ("norm, Spark", "sqrt(${dotSpark(", Map("Idioms.scala" -> 1)),
    ("norm, DuckDB", "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)", Map("Idioms.scala" -> 1)),
    ("cosine, both engines", ")} / (${norm", Map("Idioms.scala" -> 2)),
    ("cosine over cached norms, Spark", "/ (col(\"a.vnorm\") * col(\"b.vnorm\"))",
      Map("SimilarityOps.scala" -> 1)),
    ("query vector, Spark", "col(\"vec_id\") === ", Map("Idioms.scala" -> 1)),
    ("query vector, DuckDB", "WHERE vec_id = 0", Map("Idioms.scala" -> 1)),
    ("dense top-k, Spark, and q_ann_ivf's probed top-5", "orderBy(desc(\"score_exact\"), asc(\"vec_id\"))",
      Map("Idioms.scala" -> 1, "SimilarityOps.scala" -> 1)),
    ("dense top-k, DuckDB", "ORDER BY sc DESC, vec_id", Map("Idioms.scala" -> 1)),
    ("rerank stand-in score, Spark", "substr(1, 256)", Map("RetrievalOps.scala" -> 1)),
    ("rerank stand-in score, DuckDB", "substring(d.text, 1, 256)", Map("RetrievalOps.scala" -> 1)),
    ("sparse TF score, Spark", "explode(split(col(\"text\"), \" \"))", Map("RetrievalOps.scala" -> 1)),
    ("sparse TF score, DuckDB", "unnest(str_split(text, ' '))", Map("RetrievalOps.scala" -> 1)),
    ("whitespace tokens, both engines", "t -> t <> ''", Map("Idioms.scala" -> 2)),
    ("IVF first-n centroids, Spark", "col(\"vec_id\") < nCellsOf(e)", Map("SimilarityOps.scala" -> 1)),
    ("IVF first-n centroids, DuckDB", "WHERE vec_id < $nCellsDuck", Map("SimilarityOps.scala" -> 1)),
    ("IVF nearest cell, Spark", "'ncell', -c.cell", Map("AnnIndex.scala" -> 1)),
    ("IVF nearest cell, DuckDB", "PARTITION BY e.vec_id", Map("SimilarityOps.scala" -> 1)),
    ("0/1 feedback, Spark", "col(\"value\") > 100", Map("Idioms.scala" -> 1)),
    ("0/1 feedback, DuckDB", "value > 100", Map("Idioms.scala" -> 1)),
    ("Python whitespace set, DuckDB", "filter(PyText.isPySpace)", Map("ExtractOps.scala" -> 1)))

  test("src/main spells each rule once per engine, in the file that defines it") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"expected the sources at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val sources = try walk.iterator().asScala.filter((p: Path) => Files.isRegularFile(p))
      .map(p => p.getFileName.toString -> Files.readString(p)).toSeq
    finally walk.close()
    def count(text: String, lit: String): Int =
      Iterator.iterate(text.indexOf(lit))(i => text.indexOf(lit, i + 1)).takeWhile(_ >= 0).size
    val drift = rules.flatMap { case (rule, lit, expected) =>
      val seen = sources.map { case (f, text) => f -> count(text, lit) }.filter(_._2 > 0).toMap
      Option.when(seen != expected)(s"$rule: `$lit` expected $expected, found $seen")
    }
    assert(drift.isEmpty, drift.mkString("\n"))
  }
}
