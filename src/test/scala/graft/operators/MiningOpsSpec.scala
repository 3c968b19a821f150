package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Semantic invariants for the round-5 mining/planning operators (the
  * DuckDB oracle checks cross-engine equality; these check the properties
  * that make the answers RIGHT, not just reproducible).
  */
class MiningOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def q(name: String) = graft.SparkEntry.queries(name)(spark, sfDir)

  test("q_hard_negatives: 5 per anchor, self and near-positives excluded, descending") {
    val rows = q("q_hard_negatives")
      .select("anchor_id", "rnk", "vec_id", "cosine")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.map(_._1).toSet == Set(0L, 1L, 2L))
    rows.groupBy(_._1).foreach { case (a, rs) =>
      assert(rs.length == 5, s"anchor $a expected 5 negatives")
      assert(rs.map(_._2).sorted.toSeq == (1L to 5L), s"anchor $a ranks not dense")
      assert(rs.forall(_._3 != a), s"anchor $a mined itself")
      assert(rs.forall(_._4 < 0.9), s"anchor $a leaked a near-positive (cos >= 0.9)")
      val byRank = rs.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (x, y) => x >= y },
        s"anchor $a cosines not descending")
    }
  }

  test("q_mixture_epochs: budget conserved up to per-domain rounding, cap respected") {
    val rows = q("q_mixture_epochs")
      .select("source", "available_tokens", "target_ppm", "desired_tokens", "epochs_micro")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.length == 20)
    val totalAvail = rows.map(_._2).sum
    val budget = totalAvail / 2
    val desired = rows.map(_._4).sum
    // each domain's integer allocation rounds down by < 1 token
    assert(desired <= budget && desired > budget - rows.length,
      s"allocated $desired of budget $budget across ${rows.length} domains")
    rows.foreach { case (src, avail, ppm, des, em) =>
      assert(em <= 4000000L, s"$src epochs above the 4-epoch cap")
      assert(em >= 0L)
      // below the cap the micro-epochs are exactly floor(des*1e6/avail)
      if (em < 4000000L) {
        val exact = (BigInt(des) * 1000000 / BigInt(avail)).toLong
        assert(em == exact, s"$src epochs_micro $em != $exact")
      }
      assert(ppm >= 50000L && ppm <= 1000000L, s"$src target_ppm out of range")
    }
  }

  test("q_length_histogram: partitions the corpus, bucket bounds are powers of two") {
    val rows = q("q_length_histogram")
      .select("bucket", "docs", "total_tokens", "min_tokens", "max_tokens")
      .as[(Long, Long, Long, Long, Long)].collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.map(_._2).sum == nDocs, "histogram lost or double-counted docs")
    rows.foreach { case (b, docs, tot, mn, mx) =>
      assert(mn <= mx && docs >= 1)
      assert(tot >= docs * mn && tot <= docs * mx)
      // bucket b holds counts with bit length b: [2^(b-1), 2^b - 1]
      assert(mn >= (1L << (b - 1).toInt) || b == 1, s"bucket $b min $mn below range")
      assert(mx < (1L << b.toInt), s"bucket $b max $mx above range")
    }
  }

  test("q_tfidf_topk: exactly the sampled docs, ranks dense, scores tf*idf-consistent") {
    val rows = q("q_tfidf_topk")
      .select("doc_id", "rnk", "tok", "score")
      .as[(Long, Long, String, Long)].collect()
    val docs = Tables.documents(spark, sfDir)
    val sampled = docs.where($"doc_id" % 97 === 0).select("doc_id").as[Long].collect().toSet
    assert(rows.map(_._1).toSet == sampled, "rows not exactly the 1-in-97 sample")
    rows.groupBy(_._1).foreach { case (d, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length), s"doc $d ranks not dense")
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._4).zip(byRank.tail.map(_._4)).forall { case (x, y) => x >= y },
        s"doc $d scores not descending")
    }
    // spot-check one doc's top term against a from-first-principles recompute
    val d0 = sampled.min
    val text = docs.where($"doc_id" === d0).select("text").as[String].collect()(0)
    val toks = text.split(" ").filter(_.nonEmpty)
    val n = docs.count()
    val dfMap = rows.filter(_._1 == d0).map(_._3).map { t =>
      t -> docs.where(array_contains(split($"text", " "), t)).count()
    }.toMap
    val expected = rows.filter(_._1 == d0).map { case (_, _, t, _) =>
      val tf = toks.count(_ == t).toLong
      t -> tf * (n * 1000000L / dfMap(t))
    }.toMap
    rows.filter(_._1 == d0).foreach { case (_, _, t, score) =>
      assert(score == expected(t), s"doc $d0 term $t score $score != ${expected(t)}")
    }
  }

  test("q_dup_rate_by_domain: partitions the corpus, dup set agrees with the cluster table") {
    val rows = q("q_dup_rate_by_domain")
      .select("source", "total", "dup_docs", "dup_ppm")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.map(_._2).sum == Tables.documents(spark, sfDir).count())
    rows.foreach { case (src, total, dups, ppm) =>
      assert(dups >= 0 && dups <= total, s"$src dup_docs out of range")
      assert(ppm == dups * 1000000 / total, s"$src ppm arithmetic")
    }
    // cross-check the total duplicated-doc count against the cluster table
    val clustered = q("q_dedup_clusters").select("doc_id").distinct().count()
    assert(rows.map(_._3).sum == clustered, "dup set disagrees with q_dedup_clusters")
    assert(rows.map(_._3).sum > 0, "degenerate input: no duplicates at all")
  }

  test("q_domain_quality_gate: threshold is each source's plain-Scala lower median") {
    val rows = q("q_domain_quality_gate")
      .select("doc_id", "source", "qm", "thr", "kept")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(rows.map(_._1).distinct.length == rows.length, "a doc gated twice")
    rows.foreach { case (id, _, qm, thr, kept) =>
      assert(kept == (if (qm >= thr) 1L else 0L), s"doc $id kept flag disagrees with thr")
    }
    rows.groupBy(_._2).foreach { case (src, rs) =>
      // discrete lower median: 1-indexed position (n+1)/2 of the sorted scores
      val sorted = rs.map(_._3).sorted
      val expected = sorted((sorted.length + 1) / 2 - 1)
      assert(rs.head._4 == expected, s"$src threshold ${rs.head._4} != median $expected")
      val keptN = rs.count(_._5 == 1L)
      assert(keptN * 2 >= rs.length, s"$src kept fewer than half") // median property
    }
    // a 2-doc source keeps both (its lower median IS its min), but across
    // the corpus the gate must actually drop something
    assert(rows.exists(_._5 == 0L), "gate is degenerate: nothing dropped anywhere")
  }

  test("q_oov_rate: matches a from-first-principles Scala recompute of vocab and counts") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    def toks(t: String) = t.split(' ').filter(_.nonEmpty)
    val cf = docs.flatMap(d => toks(d._2)).groupBy(identity).view.mapValues(_.length.toLong)
    val vocab = cf.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(TextAnalysisOps.OovVocabK).map(_._1).toSet
    val expected = docs.filter(d => toks(d._2).nonEmpty).map { case (id, t) =>
      val ws = toks(t); val oov = ws.count(w => !vocab.contains(w)).toLong
      (id, ws.length.toLong, oov, oov * 1000000L / ws.length)
    }.sortBy(_._1).toSeq
    val got = q("q_oov_rate")
      .select("doc_id", "words", "oov", "oov_ppm")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected, s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
    assert(got.exists(_._3 > 0), "degenerate corpus: nothing is ever OOV")
  }

  test("q_ngram_novelty: every distinct shingle hash is novel in exactly one doc") {
    val rows = q("q_ngram_novelty")
      .select("doc_id", "n_shingles", "novel", "novel_ppm")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    rows.foreach { case (id, n, novel, ppm) =>
      assert(novel >= 0 && novel <= n, s"doc $id novel out of range")
      assert(ppm == novel * 1000000L / n, s"doc $id ppm arithmetic")
    }
    // the earliest doc can owe nothing to predecessors
    assert(rows.head._3 == rows.head._2, "earliest doc not fully novel")
    // partition property: each distinct shingle hash is first-seen exactly once
    val distinctHashes = Tables.documents(spark, sfDir)
      .selectExpr("filter(split(text, ' '), t -> t <> '') as toks")
      .where("size(toks) >= 3")
      .selectExpr("explode(array_distinct(transform(sequence(1, size(toks) - 2)," +
        " i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)," +
        " element_at(toks, i + 2))))) as g")
      .selectExpr("cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint) as gh")
      .distinct().count()
    assert(rows.map(_._3).sum == distinctHashes, "novel counts don't partition the shingle set")
  }

  test("q_minhash_calibration: estimator quantized to 1/8ths, thresholded pairs = verified pairs") {
    val rows = q("q_minhash_calibration")
      .select("doc_a", "doc_b", "est_micro", "jac_micro", "err_micro")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty, "degenerate: LSH produced no candidates")
    rows.foreach { case (a, b, est, jac, err) =>
      assert(a < b, s"pair ($a,$b) not ordered")
      assert(est % 125000 == 0 && est >= 0 && est <= 1000000, s"($a,$b) est $est not k/8")
      assert(jac >= 0 && jac <= 1000000, s"($a,$b) jac out of range")
      assert(err == math.abs(est - jac), s"($a,$b) err arithmetic")
    }
    // the >= 0.5 slice of the calibration set IS the verified pair table
    val overThreshold = rows.filter(_._4 >= 500000).map(r => (r._1, r._2)).toSet
    val verified = q("q_dedup_pipeline").select("keeper", "dup")
      .as[(Long, Long)].collect().toSet
    assert(overThreshold == verified, "calibration slice disagrees with the dedup pipeline")
    // (no sub-threshold tail asserted: at sf0.001 every LSH candidate
    // happens to verify — the 2×4 band S-curve is tuned to this corpus's
    // near-dup strength; the operator still reports candidates, so a tail
    // appears the moment banding is loosened)
  }

  test("q_substring_strip: agrees with the coverage report, cuts exactly the covered spans") {
    val cov = q("q_substring_coverage")
      .select("doc_id", "dup_tokens", "total_tokens", "action")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(cov.nonEmpty, "degenerate corpus: no substring coverage at all")
    val toksOf = Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(' ').filter(_.nonEmpty) }.toMap
    val rows = q("q_substring_strip")
      .select("doc_id", "action", "kept_tokens", "text_out")
      .as[(Long, String, Long, String)].collect()
    // the base is EVERY >= 1-token doc — short docs the run detector can't
    // see must still pass through as 'keep' (the output IS the cleaned corpus)
    assert(rows.length == toksOf.count(_._2.nonEmpty))
    rows.filter(r => toksOf(r._1).length < 8).foreach { case (id, action, _, _) =>
      assert(action == "keep", s"short doc $id should be untouchable by the detector")
    }
    rows.foreach { case (id, action, kept, text) =>
      cov.get(id) match {
        case None =>
          assert(action == "keep", s"doc $id uncovered but $action")
          assert(text == toksOf(id).mkString(" "), s"doc $id rewritten without coverage")
          assert(kept == toksOf(id).length)
        case Some((_, dup, total, covAction)) =>
          assert(action == covAction, s"doc $id action disagrees with coverage report")
          if (action == "drop") assert(kept == 0 && text.isEmpty, s"doc $id drop not empty")
          else {
            assert(kept == total - dup, s"doc $id kept != total - dup")
            assert(text.split(' ').count(_.nonEmpty) == kept, s"doc $id text/count mismatch")
          }
      }
    }
  }

  test("q_dedup_keep_best: same clusters as q_dedup_clusters, keeper maximizes quality") {
    val clusters = q("q_dedup_clusters")
      .select("doc_id", "cluster").as[(Long, Long)].collect()
    val best = q("q_dedup_keep_best")
      .select("cluster", "kept_doc", "quality_micro", "dropped")
      .as[(Long, Long, Long, Long)].collect()
    val byCluster = clusters.groupBy(_._2)
    assert(best.map(_._1).toSet == byCluster.keySet, "cluster sets disagree")

    // recompute every member's quality INDEPENDENTLY: from raw token
    // counts in plain Scala (not the implementation's SQL), so a wrong
    // weight constant in the op cannot self-certify here
    val quality = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().map { case (id, text) =>
        val toks = text.split(" ").filter(_.nonEmpty)
        val stops = toks.count(t => t == "the" || t == "a")
        id -> (math.min(toks.length, 100).toLong * 7000L +
          ((toks.length - stops).toLong * 300000L) / toks.length)
      }.toMap
    // ... and anchor the micro weights to the ONE quality definition the
    // engine documents (Idioms.qualityOfToks): micro/1e6 must track the
    // double-valued composite to integer-truncation error
    val composite = Tables.documents(spark, sfDir)
      .select($"doc_id", expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
      .select($"doc_id", Idioms.qualityOfToks.as("q"))
      .as[(Long, Double)].collect().toMap
    quality.foreach { case (id, qm) =>
      assert(math.abs(qm / 1e6 - composite(id)) < 1e-3,
        s"doc $id micro-quality $qm drifts from the qualityOfToks composite ${composite(id)}")
    }
    best.foreach { case (c, kept, qm, dropped) =>
      val members = byCluster(c).map(_._1)
      assert(members.contains(kept), s"cluster $c keeper $kept not a member")
      assert(dropped == members.length - 1, s"cluster $c dropped count")
      assert(qm == quality(kept), s"cluster $c keeper quality mismatch")
      val maxQ = members.map(quality).max
      assert(qm == maxQ, s"cluster $c kept quality $qm but max is $maxQ")
      // deterministic tie-break: smallest id among the max-quality members
      assert(kept == members.filter(quality(_) == maxQ).min, s"cluster $c tie-break")
    }
  }
}
