package graft.operators

import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline: language-ID
  * (marker n-gram heuristic), quality scoring, token counting (whitespace +
  * BPE-ish regex), and document fingerprinting (shingle rolling-hash /
  * winnowing-lite). All pure Catalyst; arithmetic is rational (no
  * transcendentals) so both engines produce bit-identical doubles.
  */
object TextAnalysisOps {

  import Idioms.{h60Spark, h60Duck, toksSpark, toksDuck, stopCountSpark, stopCountDuck,
    qualitySpark, qualityDuck, qualityMicroSpark, qualityMicroDuck, shinglesSpark, shinglesDuck,
    splitSpark, splitDuck, dupFracSpark, dupFracDuck}

  // marker lists per language (n-gram heuristic; deterministic tie-break
  // en > fr > de via CASE order / greatest comparison order)
  private val markers = Seq(
    "en" -> Seq("the", "fast", "small"),
    "fr" -> Seq("table", "merge", "part"),
    "de" -> Seq("spark", "join", "stream"))

  private def scoreSpark(ws: Seq[String]) =
    s"size(filter($toksSpark, t -> t IN (${ws.map(w => s"'$w'").mkString(", ")})))"
  private def scoreDuck(ws: Seq[String]) =
    s"len(list_filter($toksDuck, t -> t IN (${ws.map(w => s"'$w'").mkString(", ")})))"


  // PII patterns — identical semantics under Java regex and RE2: character
  // classes, bounded repetition and \b word boundaries only (no lookarounds,
  // no backrefs). Scrub order matters: emails first, so the address's
  // host/digits can't be half-eaten by the later phone/IP passes.
  private val EmailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val PhonePat = """\b555-[0-9]{4}\b"""
  private val Ipv4Pat  = """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""

  /** Vocabulary size for `q_oov_rate` (a real deployment sizes K to its
    * tokenizer — 32k/50k/100k; both the Spark plan and the oracle SQL are
    * built from this ONE value, so the two engines stay in lockstep).
    * Sized to the fixture: the testdata corpus has exactly 31 distinct
    * tokens, so K=16 covers the frequency head while leaving a real OOV
    * tail to measure (K ≥ 31 would make the statistic identically zero and
    * the operator untestable).
    */
  private[graft] val OovVocabK = 16

  /** Domains dropped by the URL curation stage (batch `q_url_curation` and
    * the streaming gate share this one list).
    */
  private[graft] val UrlBlocklist: Seq[String] =
    Seq("site13.example.com", "site31.example.com")

  /** URL canonicalization + registrable-domain extraction, shared batch /
    * streaming: strip fragment, strip utm_* and ref tracking params,
    * lowercase scheme+host ONLY (paths stay case-sensitive), then derive
    * the domain with the `www.` prefix stripped. Stateless map-only
    * expressions (RE2-safe regexes: char classes, no lookarounds), so the
    * two surfaces canonicalize identically by construction. Adds
    * `canon_url` and `domain`; the staging column is dropped.
    */
  private[graft] def withCanonUrl(df: org.apache.spark.sql.DataFrame, urlCol: String): org.apache.spark.sql.DataFrame = {
    // scheme-flexible: http://, https://, any RFC-3986 scheme — a blocklist
    // gate that only recognized literal 'https://' would silently pass
    // blocklisted domains arriving over http. Both extracts stay ANCHORED
    // at the string start so a '://' embedded in the query (a redirect
    // target) can never supply the domain.
    val hostPat = "'^[A-Za-z][A-Za-z0-9+.-]*://[^/]+'"
    // Tracking-param strip in two ORDERED passes, each anchored on its own
    // separator so names merely ending in 'ref' (href=, xref=) and literal
    // '&' in the path ('/p&q' is legal RFC-3986) are never touched:
    //   pass 1 removes every '&'-anchored tracking param (global) — after
    //   it, at most one tracking param remains and it is '?'-anchored;
    //   pass 2 removes that first param, promoting the next one to '?'
    //   (or leaving a bare '?' that the trailing cleanup strips).
    df.withColumn("_url_trimmed", expr(
        s"regexp_replace(regexp_replace(regexp_replace(regexp_replace($urlCol," +
          s" '#.*$$', ''), '&(utm_[a-z]+|ref)=[^&]*', ''), '[?](utm_[a-z]+|ref)=[^&]*(&|$$)', '?'), '[?&]+$$', '')"))
      .withColumn("canon_url", expr(
        s"concat(lower(regexp_extract(_url_trimmed, $hostPat, 0))," +
          s" substr(_url_trimmed, length(regexp_extract(_url_trimmed, $hostPat, 0)) + 1))"))
      // authority → registrable domain: strip userinfo (GREEDY to the
      // LAST '@' — browsers resolve the host after the last '@', so
      // 'a@b@host' must yield 'host'), the port incl. the empty-port form
      // 'host:' (':[0-9]*$'), and the www. prefix — an exact-match
      // blocklist on the raw authority is trivially bypassed otherwise
      .withColumn("domain", expr(
        "regexp_replace(regexp_replace(regexp_replace(" +
          "regexp_extract(canon_url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)', 1)," +
          " '^.*@', ''), ':[0-9]*$', ''), '^www[.]', '')"))
      .drop("_url_trimmed")
  }

  /** The PII scrub chain as a reusable column — the exact expressions
    * `q_pii_scrub` runs, shared with the streaming surface (stateless, so
    * identical semantics batch vs stream).
    */
  private[graft] def scrubPii(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      lit(EmailPat), lit("<EMAIL>")),
      lit(PhonePat), lit("<PHONE>")),
      lit(Ipv4Pat), lit("<IP>"))

  /** BPE training rounds for `q_bpe_vocab` / `q_bpe_encode` (Sennrich et
    * al. 2016, "Neural Machine Translation of Rare Words with Subword
    * Units"). 8 is enough to exercise multi-character merges chaining on
    * this corpus (max token length 8) while keeping the macro-expanded
    * DuckDB oracle readable.
    */
  private val BpeRounds = 8

  private def sqlQuote(x: String): String =
    "'" + x.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** One BPE merge applied to a `syms` array column: greedy left-to-right
    * non-overlapping replacement of the adjacent pair (a, b) by their
    * concatenation — Sennrich's merge rule, expressed as an `aggregate`
    * higher-order function so the rewrite is a MAP-ONLY pass that stays in
    * whole-stage codegen (no UDF, no shuffle). The fold carries
    * (out, pend): `pend` is the one look-behind symbol; a (pend=a, x=b)
    * hit emits the merged symbol and clears `pend` so overlapping matches
    * (e.g. "aaa" under merge (a,a)) resolve left-to-right exactly as the
    * reference algorithm does.
    */
  private def bpeMergeExpr(a: String, b: String): String = {
    val qa = sqlQuote(a); val qb = sqlQuote(b); val qab = sqlQuote(a + b)
    s"""aggregate(
       |  syms,
       |  named_struct('out', cast(array() as array<string>), 'pend', cast(null as string)),
       |  (acc, x) -> CASE
       |    WHEN acc.pend IS NULL THEN named_struct('out', acc.out, 'pend', x)
       |    WHEN acc.pend = $qa AND x = $qb
       |      THEN named_struct('out', array_append(acc.out, $qab), 'pend', cast(null as string))
       |    ELSE named_struct('out', array_append(acc.out, acc.pend), 'pend', x) END,
       |  acc -> CASE WHEN acc.pend IS NULL THEN acc.out
       |              ELSE array_append(acc.out, acc.pend) END)""".stripMargin
  }

  /** The full BPE training loop: returns the learned merge list
    * (rank, lhs, rhs, pair_freq) and the final per-word segmentation table
    * (word, freq, syms). Driver-coordinated K-round iteration — the only
    * driver traffic is ONE row per round (the argmax pair via
    * TakeOrderedAndProject), never data-sized.
    *
    * 100 TB shape: the corpus collapses to a (word, freq) vocabulary table
    * with ONE corpus-sized shuffle up front; every round after that is an
    * explode + partial-agg'd count over the VOCABULARY (bounded by distinct
    * words, not corpus rows) plus a map-only merge rewrite. This is exactly
    * why production BPE trainers operate on word-frequency tables. Each
    * round's segmentation is localCheckpoint'd so the plan (and the nested
    * `aggregate` expression tree) doesn't grow with the round count.
    */
  private[operators] def bpeTrain(s: org.apache.spark.sql.SparkSession, dir: String)
      : (Seq[(Long, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    val vocab = Tables.documents(s, dir)
      .select(explode(expr(toksSpark)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // Checkpoints are LAZY throughout the loop: each round's argmax job
    // materializes the pending segmentation as a side effect, so a round
    // costs ONE Spark job instead of an eager-checkpoint job plus the
    // argmax job — and the final round's segmentation is only materialized
    // by callers that actually read it (q_bpe_vocab never does).
    var seqs = vocab.select(col("word"), col("freq"),
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))").as("syms"))
      .localCheckpoint(false)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < BpeRounds && !exhausted) {
      r += 1
      val top = seqs.where(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1)," +
            " i -> named_struct('a', element_at(syms, i), 'b', element_at(syms, i + 1)))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("f"))
        .orderBy(desc("f"), asc("a"), asc("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, f) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, a, b, f))
        seqs = seqs.select(col("word"), col("freq"), expr(bpeMergeExpr(a, b)).as("syms"))
          .localCheckpoint(false)
      }
    }
    (merges.result(), seqs)
  }

  /** DuckDB twin of [[bpeTrain]]: the K rounds macro-expanded into a CTE
    * chain (`bs0 … bs$BpeRounds`, with `bt$r` holding round r's chosen
    * merge). The greedy non-overlapping merge is expressed relationally —
    * matched pair positions grouped into islands of consecutive positions
    * (pos − row_number), odd ranks within an island taken (matches at i and
    * i+1 overlap; i and i+2 don't) — which selects exactly the pairs the
    * Spark fold merges. Each round's `bs$r` (and the doubly-referenced
    * `bg$r`) is `MATERIALIZED`: DuckDB otherwise inlines every CTE
    * reference, so the doubly-referenced chain expands 2^K scans of
    * `documents` and dies on open-file limits.
    */
  private def bpeDuckCtes: String = {
    val init =
      s"""bw AS (SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
         |       FROM (SELECT unnest($toksDuck) AS tok FROM documents) GROUP BY 1),
         |bs0 AS MATERIALIZED (SELECT word, freq,
         |          list_transform(generate_series(1, length(word)), i -> substring(word, i, 1)) AS syms
         |        FROM bw)""".stripMargin
    val rounds = (1 to BpeRounds).map { r =>
      val p = r - 1
      s"""bp$r AS (SELECT s.word, s.freq, u.i AS pos, s.syms[u.i] AS a, s.syms[u.i + 1] AS b
         |  FROM bs$p s, LATERAL unnest(generate_series(1, len(s.syms) - 1)) u(i)),
         |bt$r AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS f
         |  FROM bp$r GROUP BY a, b ORDER BY f DESC, a, b LIMIT 1),
         |bm$r AS (SELECT p.word, p.pos,
         |    p.pos - row_number() OVER (PARTITION BY p.word ORDER BY p.pos) AS isl
         |  FROM bp$r p JOIN bt$r t ON p.a = t.a AND p.b = t.b),
         |bg$r AS MATERIALIZED (SELECT word, pos FROM (
         |    SELECT word, pos, row_number() OVER (PARTITION BY word, isl ORDER BY pos) AS rk
         |    FROM bm$r) WHERE rk % 2 = 1),
         |bs$r AS MATERIALIZED (
         |  SELECT e.word, e.freq,
         |    list(CASE WHEN g.pos IS NOT NULL THEN e.s || e.s2 ELSE e.s END ORDER BY e.i) AS syms
         |  FROM (SELECT s.word, s.freq, u.i, s.syms[u.i] AS s, s.syms[u.i + 1] AS s2
         |        FROM bs$p s, LATERAL unnest(generate_series(1, len(s.syms))) u(i)) e
         |  LEFT JOIN bg$r g ON g.word = e.word AND g.pos = e.i
         |  LEFT JOIN bg$r h ON h.word = e.word AND h.pos = e.i - 1
         |  WHERE h.pos IS NULL
         |  GROUP BY e.word, e.freq)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  val ops: Seq[Op] = Seq(

    // Deterministic stratified train/val/test split — the assignment every
    // training-data pipeline needs: hash-bucket on doc_id (stable across
    // runs/engines, no RNG state), 80/10/10, reported per language stratum
    // with within-stratum fractions. Map-only assignment; one partial-agg'd
    // shuffle for the report.
    Op("q_split_stratified",
      s"""WITH assigned AS (SELECT lang, $splitDuck AS split FROM documents),
         |counts AS (SELECT lang, split, CAST(count(*) AS BIGINT) AS docs
         |           FROM assigned GROUP BY lang, split),
         |totals AS (SELECT lang, CAST(sum(docs) AS BIGINT) AS total FROM counts GROUP BY lang)
         |SELECT c.lang AS lang, c.split, c.docs,
         |       CAST(c.docs AS DOUBLE) / t.total AS frac
         |FROM counts c JOIN totals t ON t.lang = c.lang
         |ORDER BY lang, split""".stripMargin) { (s, dir) =>
      val assigned = Tables.documents(s, dir).select(col("lang"), splitSpark.as("split"))
      val counts = assigned.groupBy(col("lang"), col("split")).agg(count(lit(1)).as("docs"))
      val totals = counts.groupBy(col("lang")).agg(sum(col("docs")).as("total"))
      counts.join(broadcast(totals), "lang")
        .select(col("lang"), col("split"), col("docs"),
          (col("docs").cast("double") / col("total")).as("frac"))
        .orderBy("lang", "split")
    },

    Op("q_lang_id",
      s"""SELECT doc_id,
         |  ${markers.map { case (l, ws) => s"CAST(${scoreDuck(ws)} AS INT) AS s_$l" }.mkString(",\n  ")},
         |  CASE WHEN ${scoreDuck(markers(0)._2)} >= ${scoreDuck(markers(1)._2)}
         |        AND ${scoreDuck(markers(0)._2)} >= ${scoreDuck(markers(2)._2)} THEN 'en'
         |       WHEN ${scoreDuck(markers(1)._2)} >= ${scoreDuck(markers(2)._2)} THEN 'fr'
         |       ELSE 'de' END AS predicted
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val scored = Tables.documents(s, dir).select(
        col("doc_id") +:
          markers.map { case (l, ws) => expr(scoreSpark(ws)).cast("int").as(s"s_$l") }: _*)
      scored.withColumn("predicted",
          when(col("s_en") >= col("s_fr") && col("s_en") >= col("s_de"), "en")
            .when(col("s_fr") >= col("s_de"), "fr")
            .otherwise("de"))
        .orderBy("doc_id")
    },

    // Quality scoring: length, word count, mean word length, stopword ratio,
    // composite score. NO rounding: all per-row rational arithmetic with an
    // identical expression tree on both engines is bit-identical IEEE-754,
    // whereas round() *implementations* differ on decimal ties (Spark
    // BigDecimal-exact HALF_UP vs DuckDB scaled-multiply), e.g. 0.82625.
    Op("q_quality_score",
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS chars,
         |  CAST(len($toksDuck) AS BIGINT) AS words,
         |  CAST(length(text) AS DOUBLE) / CAST(len($toksDuck) AS DOUBLE) AS avg_word_len,
         |  CAST(${stopCountDuck(toksDuck)} AS DOUBLE) / CAST(len($toksDuck) AS DOUBLE) AS stop_ratio,
         |  ${qualityDuck(s"len($toksDuck)", stopCountDuck(toksDuck))} AS quality
         |FROM documents WHERE len($toksDuck) > 0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val words = expr(s"size($toksSpark)")
      val stops = expr(stopCountSpark(toksSpark))
      Tables.documents(s, dir)
        .where(expr(s"size($toksSpark) > 0"))
        .select(col("doc_id"),
          length(col("text")).cast("bigint").as("chars"),
          words.cast("bigint").as("words"),
          (length(col("text")).cast("double") / words.cast("double")).as("avg_word_len"),
          (stops.cast("double") / words.cast("double")).as("stop_ratio"),
          qualitySpark(words, stops).as("quality"))
        .orderBy("doc_id")
    },

    // Token counting: whitespace tokens + BPE-ish regex tokens (word pieces /
    // digit runs / single punctuation — simplified GPT-2 pretokenizer shape,
    // same result under Java regex and RE2).
    // Intra-document repetition scoring (the Gopher/MassiveText-style
    // repetition filter): fraction of duplicated 3-gram shingles per doc.
    // Map-only per-row array math; the division is one double op over two
    // exact integers, so both engines produce the identical bits.
    Op("q_repetition",
      s"""SELECT doc_id, total_ngrams, distinct_ngrams,
         |       ${dupFracDuck("distinct_ngrams", "total_ngrams")} AS dup_frac
         |FROM (
         |  SELECT doc_id,
         |    CAST(len($toksDuck) - 2 AS BIGINT) AS total_ngrams,
         |    CAST(len(list_distinct($shinglesDuck)) AS BIGINT) AS distinct_ngrams
         |  FROM documents WHERE len($toksDuck) >= 3)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), expr(toksSpark).as("toks"))
        .where(expr("size(toks) >= 3"))
        .select(col("doc_id"),
          expr("cast(size(toks) - 2 as bigint)").as("total_ngrams"),
          expr(s"cast(size(array_distinct($shinglesSpark)) as bigint)").as("distinct_ngrams"))
        .withColumn("dup_frac", dupFracSpark(col("distinct_ngrams"), col("total_ngrams")))
        .orderBy("doc_id")
    },

    Op("q_token_count",
      s"""SELECT doc_id,
         |  CAST(len($toksDuck) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          expr(s"size($toksSpark)").cast("bigint").as("ws_tokens"),
          expr("cast(size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)) as bigint)").as("bpe_tokens"))
        .orderBy("doc_id")
    },

    // Language-balanced deterministic subsampling — the training-mix
    // operator: down-sample the majority language (10% of en), keep half of
    // everything else. Same hash-threshold rule as the stratified split (no
    // RNG, stable across runs/engines/partitionings), map-only.
    Op("q_group_sample",
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${h60Duck("CAST(doc_id AS VARCHAR) || '#sample'")} % 100 <
         |      CASE WHEN lang = 'en' THEN 10 ELSE 50 END
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .where(expr(s"${h60Spark("concat(cast(doc_id as string), '#sample')")} % 100") <
          when(col("lang") === "en", 10).otherwise(50))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // Corpus vocabulary statistics: per-token document frequency (distinct
    // docs) and collection frequency (total occurrences), the table every
    // BM25/IDF/stopword decision reads. One explode + one shuffle on the
    // token with map-side partial aggregation; the df >= 5 floor keeps the
    // long tail out of the output (and is what you'd push into the agg at
    // 100 TB).
    Op("q_vocab_df",
      s"""SELECT tok,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
         |       CAST(count(*) AS BIGINT) AS coll_freq
         |FROM (SELECT doc_id, unnest($toksDuck) AS tok FROM documents)
         |GROUP BY tok HAVING count(DISTINCT doc_id) >= 5
         |ORDER BY tok""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(expr(toksSpark)).as("tok"))
        .groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("doc_freq"), count(lit(1)).as("coll_freq"))
        .where(col("doc_freq") >= 5)
        .orderBy("tok")
    },

    // PII scrubbing — the redaction pass every web-scale training pipeline
    // runs before tokenization: emails / phone numbers / IPv4 addresses →
    // typed placeholder tokens, with per-doc match counts for the removal
    // report. Map-only regexp chain in whole-stage codegen; patterns are
    // RE2-safe (char classes + \b only, no lookarounds) so Spark's Java
    // regex and the DuckDB oracle match exactly. The corpus text carries no
    // PII (word salad), so deterministic synthetic PII is appended in-plan
    // identically in both engines — the operator under test is the scrub.
    Op("q_pii_scrub",
      s"""WITH p AS (
         |  SELECT doc_id,
         |    text || ' Contact user' || CAST(doc_id % 89 AS VARCHAR) ||
         |    '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com or call 555-' ||
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.' ||
         |    CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) || '.' AS pii
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii, '$EmailPat')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(pii, '$PhonePat')) AS INT) AS n_phones,
         |  CAST(len(regexp_extract_all(pii, '$Ipv4Pat')) AS INT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(pii,
         |    '$EmailPat', '<EMAIL>', 'g'),
         |    '$PhonePat', '<PHONE>', 'g'),
         |    '$Ipv4Pat', '<IP>', 'g') AS scrubbed
         |FROM p ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pii = concat(col("text"),
        lit(" Contact user"), (col("doc_id") % 89).cast("string"),
        lit("@mail"), (col("doc_id") % 7).cast("string"),
        lit(".example.com or call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 100).cast("string"), lit("."))
      // spread: three regex extract_alls + three regexp_replaces per row
      // dominate the tiny exchange (A/B at sf0.1: 0.87s → 0.66s)
      Tables.spreadSmall(Tables.documents(s, dir), col("doc_id"))
        .select(col("doc_id"), pii.as("pii"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("pii"), lit(EmailPat), lit(0))).cast("int").as("n_emails"),
          size(regexp_extract_all(col("pii"), lit(PhonePat), lit(0))).cast("int").as("n_phones"),
          size(regexp_extract_all(col("pii"), lit(Ipv4Pat), lit(0))).cast("int").as("n_ips"),
          scrubPii(col("pii")).as("scrubbed"))
        .orderBy("doc_id")
    },

    // Document fingerprinting: rolling 8-char shingles at stride 4, 60-bit
    // hashes, fingerprint = min hash (winnowing-lite) + shingle count.
    Op("q_fingerprint",
      s"""SELECT doc_id,
         |  CAST(list_min(list_transform(generate_series(0, CAST(floor((length(text) - 8) / 4.0) AS BIGINT),
         |         1), i -> ${h60Duck("substring(text, CAST(i * 4 + 1 AS INT), 8)")})) AS BIGINT) AS fingerprint,
         |  CAST(floor((length(text) - 8) / 4.0) + 1 AS BIGINT) AS n_shingles
         |FROM documents WHERE length(text) >= 8 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // spread: the per-row md5 shingle fold dominates the tiny exchange
      // (A/B at sf0.1: 1.00s → 0.72s)
      Tables.spreadSmall(Tables.documents(s, dir), col("doc_id"))
        .where(length(col("text")) >= 8)
        .select(col("doc_id"),
          expr(s"array_min(transform(sequence(0, cast(floor((length(text) - 8) / 4.0) as int))," +
            s" i -> ${h60Spark("substring(text, i * 4 + 1, 8)")}))").as("fingerprint"),
          expr("cast(floor((length(text) - 8) / 4.0) + 1 as bigint)").as("n_shingles"))
        .orderBy("doc_id")
    },

    // Training-sequence packing (concat-and-chop): documents are hashed into
    // shards, concatenated in doc_id order within each shard, and chopped
    // into fixed 512-token training sequences — each doc reports the sequence
    // it starts in and its fill offset there. The running sum is a window
    // partitioned BY SHARD, so no global single-partition sort exists; at
    // 100 TB nShards scales with the corpus (one shard ≈ one output file),
    // keeping every window partition bounded. All-integer arithmetic: both
    // engines produce identical bits.
    Op("q_pack_sequences",
      s"""WITH t AS (
         |  SELECT doc_id,
         |    ${h60Duck("CAST(doc_id AS VARCHAR)")} % 16 AS shard,
         |    CAST(len($toksDuck) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, shard, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, shard, n_tokens,
         |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_id,
         |  (cum - n_tokens) % 512 AS seq_offset
         |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(s, dir).select(
        col("doc_id"),
        expr(s"${h60Spark("cast(doc_id as string)")} % 16").as("shard"),
        expr(s"cast(size($toksSpark) as bigint)").as("n_tokens"))
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.withColumn("cum", sum(col("n_tokens")).over(w).cast("bigint"))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          expr("cast(floor((cum - n_tokens) / 512.0) as bigint)").as("seq_id"),
          ((col("cum") - col("n_tokens")) % 512).as("seq_offset"))
        .orderBy("doc_id")
    },

    // Bigram-LM fluency score (the CCNet-style LM quality filter, with the
    // corpus itself as the LM): MLE conditional probability
    // P(w2|w1) = c(w1,w2)/c(w1,·) from corpus bigram counts, per-doc score =
    // sum over the doc's bigrams in fixed-point micro units (floor of 1e6·p —
    // one correctly-rounded divide + multiply per bigram, then exact BIGINT
    // sums, so the engines agree bit-for-bit; no transcendentals). Plan
    // shape at scale: bigram counts are one shuffle with map-side partial
    // aggregation; the count tables join back on the bigram key (shuffle
    // join — broadcastable once pruned to a top-K vocabulary).
    Op("q_lm_bigram_score",
      s"""WITH toks AS (SELECT doc_id, $toksDuck AS w FROM documents),
         |t2 AS (SELECT doc_id, w FROM toks WHERE len(w) >= 2),
         |bg AS (SELECT doc_id,
         |         unnest(list_transform(range(1, len(w)), i -> {'w1': w[i], 'w2': w[i + 1]})) AS p
         |       FROM t2),
         |bgp AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg),
         |bgc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bgp GROUP BY 1, 2),
         |pre AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM bgc GROUP BY 1),
         |scored AS (
         |  SELECT b.doc_id,
         |    CAST(floor(1000000.0 * (CAST(c.c2 AS DOUBLE) / CAST(p.c1 AS DOUBLE))) AS BIGINT) AS micro
         |  FROM bgp b JOIN bgc c ON c.w1 = b.w1 AND c.w2 = b.w2 JOIN pre p ON p.w1 = b.w1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(micro) AS BIGINT) AS score_micro,
         |  CAST(sum(micro) AS DOUBLE) / count(*) AS avg_prob_micro
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), expr(toksSpark).as("w"))
        .where(size(col("w")) >= 2)
      val bgp = toks.select(col("doc_id"),
          expr("explode(transform(sequence(0, size(w) - 2)," +
            " i -> named_struct('w1', w[i], 'w2', w[i + 1])))").as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      // Compress the exploded instance table to per-doc bigram COUNTS
      // before anything joins or re-shuffles it: the (doc_id, w1, w2)
      // partial aggregation combines map-side, so the only instance-sized
      // pass is the scan-stage combine — corpus counts, the probability
      // join, and the per-doc rollup all ride the compressed table.
      // Exact-integer equivalence: c2 = Σ cnt, per-doc instance count =
      // Σ cnt, per-doc score = Σ cnt·micro (micro is per-BIGRAM, so
      // multiplying by the multiplicity is the same integer sum).
      val db = bgp.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("cnt"))
      val bgc = db.groupBy("w1", "w2").agg(sum(col("cnt")).as("c2"))
      val pre = bgc.groupBy("w1").agg(sum(col("c2")).as("c1"))
      // Join the two AGGREGATED tables first into a per-bigram probability
      // table, then hit the compressed doc-bigram table exactly once — the
      // naive bgp⋈bgc⋈pre shape shuffles the exploded table twice
      // (once on (w1,w2), again on w1). The prob table is |distinct
      // bigrams| rows — broadcastable once the vocab is pruned.
      val prob = bgc.join(pre, Seq("w1"))
        .select(col("w1"), col("w2"),
          expr("cast(floor(1000000.0 * (cast(c2 as double) / cast(c1 as double))) as bigint)").as("micro"))
      db.join(prob, Seq("w1", "w2"))
        .select(col("doc_id"), col("cnt"), col("micro"))
        .groupBy("doc_id")
        .agg(sum(col("cnt")).cast("bigint").as("n_bigrams"),
          sum(col("cnt") * col("micro")).cast("bigint").as("score_micro"))
        .withColumn("avg_prob_micro", col("score_micro").cast("double") / col("n_bigrams"))
        .orderBy("doc_id")
    },

    // Gopher quality rules (Rae et al. 2021, "Scaling Language Models",
    // Table A1 — the MassiveText heuristic filter bundle), the subset whose
    // inputs exist on plain text: word-count bounds, mean-word-length
    // bounds, symbol-to-word ratio (# and ellipsis), and a minimum
    // stopword requirement (Gopher's original threshold is >= 2 distinct
    // stop words; this corpus' compressed synthetic vocabulary carries at
    // most one, so the operator uses >= 1 to keep the flag discriminating —
    // the threshold is the tunable, the machinery is the operator).
    // Per-rule 0/1 flags so downstream can report
    // per-rule drop rates, plus the conjunction. Map-only; counts are
    // exact integers and each ratio is ONE correctly-rounded division, so
    // both engines agree bit-for-bit.
    Op("q_gopher_rules",
      s"""WITH t AS (
         |  SELECT doc_id, text, $toksDuck AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT) AS word_chars,
         |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) +
         |    CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_symbols,
         |    CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
         |         w -> list_contains(toks, w))) AS BIGINT) AS n_stop
         |  FROM t WHERE len(toks) > 0)
         |SELECT doc_id, n_words,
         |  CAST(word_chars AS DOUBLE) / n_words AS mean_word_len,
         |  CAST(n_symbols AS DOUBLE) / n_words AS symbol_ratio,
         |  n_stop,
         |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS ok_words,
         |  CAST(CASE WHEN CAST(word_chars AS DOUBLE) / n_words BETWEEN 3 AND 10 THEN 1 ELSE 0 END AS BIGINT) AS ok_mwl,
         |  CAST(CASE WHEN CAST(n_symbols AS DOUBLE) / n_words < 0.1 THEN 1 ELSE 0 END AS BIGINT) AS ok_sym,
         |  CAST(CASE WHEN n_stop >= 1 THEN 1 ELSE 0 END AS BIGINT) AS ok_stop,
         |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000
         |         AND CAST(word_chars AS DOUBLE) / n_words BETWEEN 3 AND 10
         |         AND CAST(n_symbols AS DOUBLE) / n_words < 0.1
         |         AND n_stop >= 1 THEN 1 ELSE 0 END AS BIGINT) AS ok_all
         |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val m = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), expr(toksSpark).as("toks"))
        .where(size(col("toks")) > 0)
        .select(col("doc_id"),
          size(col("toks")).cast("bigint").as("n_words"),
          expr("aggregate(toks, cast(0 as bigint), (a, w) -> a + length(w))").as("word_chars"),
          (expr("cast(length(text) - length(replace(text, '#', '')) as bigint)") +
            expr("cast((length(text) - length(replace(text, '...', ''))) div 3 as bigint)")).as("n_symbols"),
          expr("cast(size(filter(array('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with')," +
            " w -> array_contains(toks, w))) as bigint)").as("n_stop"))
      val mwl = col("word_chars").cast("double") / col("n_words")
      val sym = col("n_symbols").cast("double") / col("n_words")
      val okWords = col("n_words").between(50, 100000)
      val okMwl = mwl.between(3, 10)
      val okSym = sym < 0.1
      val okStop = col("n_stop") >= 1
      m.select(col("doc_id"), col("n_words"),
          mwl.as("mean_word_len"), sym.as("symbol_ratio"), col("n_stop"),
          when(okWords, 1L).otherwise(0L).as("ok_words"),
          when(okMwl, 1L).otherwise(0L).as("ok_mwl"),
          when(okSym, 1L).otherwise(0L).as("ok_sym"),
          when(okStop, 1L).otherwise(0L).as("ok_stop"),
          when(okWords && okMwl && okSym && okStop, 1L).otherwise(0L).as("ok_all"))
        .orderBy("doc_id")
    },

    // BPE merge-pair statistics (Sennrich et al. 2016): corpus-wide
    // adjacent symbol-pair frequencies — the quantity one iteration of BPE
    // tokenizer training maximizes (the top pair IS the next merge). The
    // full training loop is K sequential rounds of exactly this aggregation
    // with the chosen merge applied; this operator is the distributed
    // building block: explode words → explode adjacent pairs → one
    // partial-agg'd count shuffle → TakeOrderedAndProject top-k. At 100 TB
    // the pair table is bounded by |alphabet|², never by corpus size.
    Op("q_bpe_pairs",
      s"""WITH toks AS (SELECT unnest($toksDuck) AS tok FROM documents),
         |pairs AS (
         |  SELECT unnest(list_transform(generate_series(1, length(tok) - 1),
         |    i -> substring(tok, i, 2))) AS pair
         |  FROM toks WHERE length(tok) >= 2)
         |SELECT pair, CAST(count(*) AS BIGINT) AS freq
         |FROM pairs GROUP BY 1 ORDER BY freq DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(expr(toksSpark)).as("tok"))
        .where(length(col("tok")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("pair")).limit(20)
    },

    // Full BPE tokenizer training (Sennrich et al. 2016): K = BpeRounds
    // driver-coordinated merge rounds — each round argmaxes the adjacent
    // symbol-pair frequency over the (word, freq) vocabulary table and
    // applies the winning merge as a map-only greedy rewrite (see
    // bpeTrain). Output is the learned merge list in training order; the
    // oracle macro-expands the identical rounds as a DuckDB CTE chain with
    // the greedy rule expressed via position islands.
    Op("q_bpe_vocab",
      s"""WITH ${bpeDuckCtes}
         |SELECT * FROM (
         |${(1 to BpeRounds).map(r =>
             s"  SELECT CAST($r AS BIGINT) AS merge_rank, a AS lhs, b AS rhs," +
               s" a || b AS merged, f AS pair_freq FROM bt$r").mkString("\n  UNION ALL\n")}
         |) ORDER BY merge_rank""".stripMargin) { (s, dir) =>
      import s.implicits._
      val (merges, _) = bpeTrain(s, dir)
      merges.map { case (r, a, b, f) => (r, a, b, a + b, f) }
        .toDF("merge_rank", "lhs", "rhs", "merged", "pair_freq")
        .orderBy("merge_rank")
    },

    // BPE encode under the trained vocabulary: per-document token counts
    // after applying the learned merges. Because training already produced
    // the final segmentation of every vocabulary word, encoding IS a
    // dictionary join — explode docs to words, broadcast-join the
    // vocabulary-sized (word → |subwords|) table, aggregate per doc. At
    // 100 TB that broadcast dictionary is exactly how you'd deploy a
    // trained tokenizer for corpus-wide token accounting (out-of-vocab
    // words would fall back to the merge fold; this corpus has none by
    // construction since train corpus = encode corpus).
    Op("q_bpe_encode",
      s"""WITH ${bpeDuckCtes},
         |bseg AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_sub,
         |                CAST(length(word) AS BIGINT) AS n_chars
         |         FROM bs$BpeRounds)
         |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(g.n_sub) AS BIGINT) AS n_tokens,
         |       CAST(sum(g.n_chars) AS BIGINT) AS n_chars,
         |       CAST(sum(g.n_chars) AS DOUBLE) / CAST(sum(g.n_sub) AS DOUBLE) AS chars_per_token
         |FROM (SELECT doc_id, unnest($toksDuck) AS word FROM documents) d
         |JOIN bseg g USING (word)
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val (_, seqs) = bpeTrain(s, dir)
      val segs = seqs.select(col("word"), size(col("syms")).cast("bigint").as("n_sub"),
        length(col("word")).cast("bigint").as("n_chars"))
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(expr(toksSpark)).as("word"))
        .join(broadcast(segs), Seq("word")) // vocabulary-sized dictionary
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("bigint").as("n_words"),
          sum("n_sub").cast("bigint").as("n_tokens"),
          sum("n_chars").cast("bigint").as("n_chars"))
        .withColumn("chars_per_token",
          col("n_chars").cast("double") / col("n_tokens").cast("double"))
        .orderBy("doc_id")
    },

    // DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score each document by
    // how target-like its HASHED token features are. Hashing the features
    // into 4096 buckets is DSIR's core trick — it bounds the model so the
    // per-bucket count table BROADCASTS no matter the corpus size (plan-
    // gated). Target = lang 'en', raw = the rest; per-token weight is the
    // Laplace-smoothed posterior P(target | bucket) in fixed-point micro
    // units (DSIR's log-ratio needs ln, which is not bit-stable across
    // engines — the posterior form is one correctly-rounded division, so
    // both engines agree exactly; ranking order for resampling survives
    // the transform per-token).
    Op("q_dsir_weight",
      s"""WITH toks AS (SELECT doc_id, lang, unnest($toksDuck) AS tok FROM documents),
         |b AS (SELECT doc_id, lang, ${h60Duck("tok")} % 4096 AS bucket FROM toks),
         |counts AS (SELECT bucket,
         |    CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS c_t,
         |    CAST(count(*) FILTER (WHERE lang <> 'en') AS BIGINT) AS c_r
         |  FROM b GROUP BY 1),
         |scored AS (SELECT d.doc_id,
         |    CAST(floor(1000000.0 * (CAST(c.c_t + 1 AS DOUBLE) / CAST(c.c_t + c.c_r + 2 AS DOUBLE))) AS BIGINT) AS micro
         |  FROM b d JOIN counts c ON c.bucket = d.bucket)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |  CAST(sum(micro) AS BIGINT) AS weight_sum_micro,
         |  CAST(sum(micro) AS DOUBLE) / count(*) AS affinity_micro
         |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val b = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), explode(expr(toksSpark)).as("tok"))
        .select(col("doc_id"), col("lang"),
          expr(s"${h60Spark("tok")} % 4096").as("bucket"))
      val counts = b.groupBy("bucket").agg(
        count(when(col("lang") === "en", 1)).as("c_t"),
        count(when(col("lang") =!= "en", 1)).as("c_r"))
      b.join(broadcast(counts), Seq("bucket")) // 4096-row model: always broadcast
        .select(col("doc_id"), expr(
          "cast(floor(1000000.0 * (cast(c_t + 1 as double) / cast(c_t + c_r + 2 as double))) as bigint)").as("micro"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("bigint").as("n_feats"),
          sum(col("micro")).cast("bigint").as("weight_sum_micro"))
        .withColumn("affinity_micro", col("weight_sum_micro").cast("double") / col("n_feats"))
        .orderBy("doc_id")
    },

    // URL curation (the RefinedWeb/C4-style web-source stage): canonicalize
    // the document URL (strip fragment, strip utm_*/ref tracking params,
    // lowercase scheme+host only — paths stay case-sensitive), extract the
    // registrable domain (www. stripped), then apply a domain blocklist and
    // a per-domain document cap. The testdata has no URL column, so a
    // deterministic URL is synthesized from doc_id identically in both
    // engines. Map-only strings + a DOMAIN-partitioned row_number (domain
    // cardinality is huge on real crawls, so partitions stay bounded). All
    // regexes are RE2-safe: char classes only, no lookarounds.
    Op("q_url_curation",
      """WITH raw AS (
        |  SELECT doc_id,
        |    'https://WWW.Site' || CAST(doc_id % 37 AS VARCHAR) || '.Example.COM/Page/' ||
        |    CAST(doc_id % 101 AS VARCHAR) || '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) ||
        |    '&ref=rss#s' || CAST(doc_id % 7 AS VARCHAR) AS url
        |  FROM documents),
        |trimmed AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(url,
        |      '#.*$', ''), '&(utm_[a-z]+|ref)=[^&]*', '', 'g'), '[?](utm_[a-z]+|ref)=[^&]*(&|$)', '?'), '[?&]+$', '') AS t
        |  FROM raw),
        |canon AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(t, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]+')) || substr(t, length(regexp_extract(t, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]+')) + 1) AS canon_url
        |  FROM trimmed),
        |dom AS (
        |  SELECT doc_id, canon_url,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_extract(canon_url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)', 1),
        |      '^.*@', ''), ':[0-9]*$', ''), '^www[.]', '') AS domain
        |  FROM canon),
        |ranked AS (
        |  SELECT doc_id, canon_url, domain,
        |    CAST(row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM dom)
        |SELECT doc_id, domain, canon_url, rn,
        |  CASE WHEN domain IN ('site13.example.com', 'site31.example.com') THEN 'blocked'
        |       WHEN rn > 5 THEN 'capped' ELSE 'kept' END AS status
        |FROM ranked ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val raw = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(lit("https://WWW.Site"), (col("doc_id") % 37).cast("string"),
            lit(".Example.COM/Page/"), (col("doc_id") % 101).cast("string"),
            lit("?utm_source=feed&id="), col("doc_id").cast("string"),
            lit("&ref=rss#s"), (col("doc_id") % 7).cast("string")).as("url"))
      withCanonUrl(raw, "url")
        .withColumn("rn",
          row_number().over(Window.partitionBy("domain").orderBy("doc_id")).cast("bigint"))
        .select(col("doc_id"), col("domain"), col("canon_url"), col("rn"),
          when(col("domain").isin(UrlBlocklist: _*), "blocked")
            .when(col("rn") > 5, "capped").otherwise("kept").as("status"))
        .orderBy("doc_id")
    },

    /** Token-length distribution in power-of-two buckets — the histogram a
      * sequence-length / packing-efficiency decision reads (seq_len choice,
      * truncation loss, padding waste). The bucket is the BIT LENGTH of the
      * token count (length of its binary rendering = floor(log2)+1):
      * exact integer on both engines where a float log2 would disagree at
      * bucket boundaries. Map-only bucketing + a ~60-row groupBy.
      */
    Op("q_length_histogram",
      s"""SELECT CAST(length(bin(len($toksDuck))) AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS docs,
         |  CAST(sum(len($toksDuck)) AS BIGINT) AS total_tokens,
         |  CAST(min(len($toksDuck)) AS BIGINT) AS min_tokens,
         |  CAST(max(len($toksDuck)) AS BIGINT) AS max_tokens
         |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(expr(s"size($toksSpark)").cast("long").as("ntok"))
        .groupBy(length(bin(col("ntok"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("docs"), sum(col("ntok")).as("total_tokens"),
          min(col("ntok")).as("min_tokens"), max(col("ntok")).as("max_tokens"))
        .orderBy("bucket")
    },

    /** TF-IDF top terms per document over a 1-in-97 doc sample (keyword
      * extraction / relevance features). Scale shape: document frequencies
      * come from ONE token shuffle with map-side partial agg over the FULL
      * corpus (the df table is corpus-global); term frequencies only for
      * the sampled docs (the filter pushes to the scan); the tf side is
      * the small side of the join, so AQE broadcasts it. idf in exact
      * micro units: the idf factor (N·1e6) div df is int64-safe to
      * N = 9.2e12 docs, and the score product additionally needs
      * tf·(N·1e6/df) ≤ 9.2e18 — binding only for a df≈1 token repeated in
      * one doc at trillion-doc scale, where the engines fail DIFFERENTLY
      * (DuckDB raises on BIGINT overflow, Spark wraps), so a deployment
      * past that frontier must drop the idf scale or cap tf. The per-doc
      * top-3 window partitions by doc_id (bounded by a doc's vocabulary,
      * never corpus-global).
      */
    Op("q_tfidf_topk",
      s"""WITH df AS (
         |  SELECT tok, count(*) AS df
         |  FROM (SELECT doc_id, unnest(list_distinct($toksDuck)) AS tok FROM documents)
         |  GROUP BY tok),
         |tf AS (
         |  SELECT doc_id, tok, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($toksDuck) AS tok FROM documents WHERE doc_id % 97 = 0)
         |  GROUP BY doc_id, tok),
         |scored AS (
         |  SELECT doc_id, tok,
         |    tf * (((SELECT count(*) FROM documents) * 1000000) // df) AS score
         |  FROM tf JOIN df USING (tok)),
         |r AS (SELECT doc_id, tok, score,
         |        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok)
         |             AS BIGINT) AS rnk
         |      FROM scored)
         |SELECT doc_id, rnk, tok, CAST(score AS BIGINT) AS score
         |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val n = docs.count() // parquet metadata read, not a scan
      val df = docs
        .select(col("doc_id"), explode(expr(s"array_distinct($toksSpark)")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val tf = docs.where(col("doc_id") % 97 === 0)
        .select(col("doc_id"), explode(expr(toksSpark)).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("tok"))
      tf.join(df, "tok")
        .select(col("doc_id"), col("tok"),
          (col("tf") * expr(s"${n}L * 1000000 div df")).as("score"))
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .where(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("tok"), col("score"))
        .orderBy("doc_id", "rnk")
    },

    /** Per-source ADAPTIVE quality gate (the FineWeb/RefinedWeb refinement
      * of a single global threshold: each source is filtered against its
      * OWN quality distribution, so a boilerplate-heavy source doesn't
      * swallow the global budget and a clean source isn't over-pruned).
      * Threshold = the source's discrete lower median of the shared
      * integer micro-quality (`Idioms.qualityMicroSpark`, the same score
      * keep-best dedup ranks by). At-scale shape: the distribution is
      * compressed to (source, qm) COUNTS first — ONE partial-agg'd shuffle
      * whose output is bounded by the score space (≤ ~3·10^7 rows per
      * source), never the corpus; the cumulative/median windows run over
      * that tiny table only; thresholds (one row per source) broadcast
      * back; the gate itself is map-side. All-integer arithmetic.
      */
    Op("q_domain_quality_gate",
      // source is coalesced to '' so docs with MISSING source metadata form
      // their own bucket instead of silently vanishing through the inner
      // threshold join (NULL never equi-joins): the gate's output must
      // PARTITION the eligible corpus
      s"""WITH q AS (
         |  SELECT doc_id, coalesce(source, '') AS source, $qualityMicroDuck AS qm
         |  FROM documents WHERE len($toksDuck) > 0),
         |c AS (SELECT source, qm, count(*) AS c FROM q GROUP BY source, qm),
         |cum AS (SELECT source, qm,
         |          sum(c) OVER (PARTITION BY source ORDER BY qm) AS cum,
         |          sum(c) OVER (PARTITION BY source) AS total
         |        FROM c),
         |thr AS (SELECT source, min(qm) AS thr
         |        FROM cum WHERE cum >= (total + 1) // 2 GROUP BY source)
         |SELECT q.doc_id, q.source, CAST(q.qm AS BIGINT) AS qm,
         |  CAST(t.thr AS BIGINT) AS thr,
         |  CAST(CASE WHEN q.qm >= t.thr THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM q JOIN thr t USING (source) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      def q = Tables.documents(s, dir)
        .where(expr(s"size($toksSpark) > 0"))
        .select(col("doc_id"), coalesce(col("source"), lit("")).as("source"),
          expr(qualityMicroSpark).as("qm"))
      val counts = q.groupBy("source", "qm").agg(count(lit(1)).as("c"))
      val thr = counts
        .withColumn("cum", sum(col("c")).over(Window.partitionBy("source").orderBy("qm")))
        .withColumn("total", sum(col("c")).over(Window.partitionBy("source")))
        .where(expr("cum >= (total + 1) div 2"))
        .groupBy("source").agg(min(col("qm")).as("thr"))
      q.join(broadcast(thr), Seq("source"))
        .select(col("doc_id"), col("source"), col("qm"), col("thr"),
          when(col("qm") >= col("thr"), 1L).otherwise(0L).as("kept"))
        .orderBy("doc_id")
    },

    /** Out-of-vocabulary rate under the corpus top-K word vocabulary — the
      * tokenizer-coverage / rare-token signal (a doc that is mostly OOV
      * under the frequency vocab is word salad, OCR noise, or the wrong
      * language; the same per-doc statistic drives vocab-size choice).
      * Vocabulary = top-K tokens by collection frequency with the
      * deterministic (cf DESC, tok ASC) tie-break on both engines.
      * At-scale shape: the vocab derivation is ONE partial-agg'd token
      * shuffle + TakeOrdered (you'd persist this table once per corpus
      * snapshot); the vocab then BROADCASTS (K rows) so the per-doc OOV
      * count is an explode + broadcast probe + ONE doc_id-keyed partial
      * agg — the corpus-sized side never shuffles on the token. Exact ppm.
      */
    Op("q_oov_rate",
      s"""WITH cf AS (
         |  SELECT tok, count(*) AS cf
         |  FROM (SELECT unnest($toksDuck) AS tok FROM documents) GROUP BY tok),
         |vocab AS (SELECT tok FROM cf ORDER BY cf DESC, tok LIMIT $OovVocabK),
         |t AS (SELECT doc_id, unnest($toksDuck) AS tok FROM documents)
         |SELECT t.doc_id,
         |  CAST(count(*) AS BIGINT) AS words,
         |  CAST(count(*) - count(v.tok) AS BIGINT) AS oov,
         |  CAST((count(*) - count(v.tok)) * 1000000 // count(*) AS BIGINT) AS oov_ppm
         |FROM t LEFT JOIN vocab v ON t.tok = v.tok
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      def toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(expr(toksSpark)).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cf"))
        .orderBy(desc("cf"), asc("tok")).limit(OovVocabK)
        .select(col("tok"), lit(1).as("iv"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("words"), count(col("iv")).as("in_vocab"))
        .select(col("doc_id"), col("words"),
          (col("words") - col("in_vocab")).as("oov"),
          expr("cast((words - in_vocab) * 1000000 div words as bigint)").as("oov_ppm"))
        .orderBy("doc_id")
    }
  )
}
