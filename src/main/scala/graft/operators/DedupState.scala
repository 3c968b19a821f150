package graft.operators

import graft.pipeline.VersionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted LSH dedup state — the corpus-side artifact that
  * `q_incremental_dedup` documents as the production shape: daily-ingest
  * dedup must probe the EXISTING corpus without rescanning it, so the
  * distinct (band, bh) table (and the signature table it derives from) is
  * materialized once per corpus snapshot and every incoming batch probes
  * the parquet state instead of the corpus.
  *
  * Layout: stateDir is a [[VersionedTable]] root; each generation holds
  * both tables, so they commit together and cannot disagree.
  * {{{
  *   gen-N/bands/      distinct (band INT, bh BIGINT) parquet — the probe table
  *   gen-N/sigs/       (doc_id, mh0..mh7) parquet — kept so band retuning or
  *                     calibration never needs a corpus re-scan
  *   gen-N/_committed  marker-after-data: format version + input digest
  * }}}
  *
  * [[build]] reuses the committed generation built from the same corpus
  * (or from a corpus that is no longer reachable) and otherwise installs a
  * new one, so a refreshed corpus never serves stale bands and a crashed
  * build is an uncommitted generation no reader sees. Readers resolve the
  * newest committed generation of this format; two generations are kept,
  * so a reader that resolved generation N keeps reading it while N+1
  * commits. Single writer per stateDir.
  *
  * Signatures and banding come from the same private expressions as the
  * batch and streaming dedup paths ([[DedupOps.sigSpark]] /
  * [[DedupOps.bandsSpark]] / [[DedupOps.withBandBuckets]]), so all three
  * surfaces bucket identically by construction.
  */
object DedupState {

  /** Bumped whenever sigs/bands layout or hashing changes — a version
    * mismatch reads as no state and forces a rebuild, never a misread.
    */
  private val FormatVersion = "dedupstate-v1"

  /** Build the state from `corpusDir`, or reuse a committed build for the
    * identical input. Returns true iff a (re)build happened.
    */
  def build(s: SparkSession, corpusDir: String, stateDir: String): Boolean =
    VersionedTable.reuseOrInstall(s, stateDir, FormatVersion, corpusDir) { gen =>
      DedupOps.sigSpark(s, corpusDir).write.parquet(s"$gen/sigs")
      // bands derive from the just-written sigs (not the corpus): ONE
      // corpus scan per build
      DedupOps.bandsSpark(s.read.parquet(s"$gen/sigs"))
        .select(col("band"), col("bh")).distinct()
        .write.parquet(s"$gen/bands")
    }._2

  /** The newest committed generation directory — fails fast when there is
    * none of this format.
    */
  def generation(s: SparkSession, stateDir: String): String =
    VersionedTable.resolve(s, stateDir, Some(FormatVersion)).getOrElse(
      throw new IllegalStateException(
        s"dedup state at $stateDir has no committed $FormatVersion generation; run DedupState.build first"))

  /** The resolved generation with its band-row and signature-doc counts. */
  def sizes(s: SparkSession, stateDir: String): (String, Long, Long) = {
    val gen = generation(s, stateDir)
    (gen, s.read.parquet(s"$gen/bands").count(), s.read.parquet(s"$gen/sigs").count())
  }

  /** The committed band table of the resolved generation. Long-lived
    * readers (the streaming sink) load ONCE and cache; per-call probes go
    * through [[dedupBatch]].
    */
  def loadBands(s: SparkSession, stateDir: String): DataFrame =
    s.read.parquet(s"${generation(s, stateDir)}/bands")

  /** Dedup an incoming batch `(doc_id, text, ...)` against the persisted
    * state: same verdicts as `q_incremental_dedup` — a batch doc is 'dup'
    * iff any of its LSH bands collides with a corpus band — but the corpus
    * side reads ONLY the state's band table (never the corpus). The batch
    * side is the small side and broadcasts.
    */
  def dedupBatch(s: SparkSession, stateDir: String, batch: DataFrame): DataFrame =
    // ONE shared verdict implementation with q_incremental_dedup — only the
    // corpus-band source differs (persisted parquet here, in-query there)
    DedupOps.incrementalVerdicts(batch, loadBands(s, stateDir))
}
