package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Semantic invariants for the corpus-assembly operators (the DuckDB oracle
  * checks cross-engine equality; these check the properties that make the
  * answers RIGHT, not just reproducible).
  */
class CorpusOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def q(name: String) = graft.SparkEntry.queries(name)(spark, sfDir)

  test("q_domain_mixture: sampled within bounds, full-rate domains keep everything") {
    val rows = q("q_domain_mixture")
      .select("source", "target_ppm", "total", "sampled", "actual_ppm")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.length == 20)
    rows.foreach { case (src, tgt, total, sampled, actual) =>
      assert(sampled >= 0 && sampled <= total, s"$src sampled=$sampled total=$total")
      assert(actual == sampled * 1000000 / total)
      // domains at target 1.0 (suffix >= 19 -> ppm capped at 1e6) keep all docs
      if (tgt == 1000000L) assert(sampled == total, s"$src full-rate but dropped docs")
    }
    // the mixture is a real mixture: some domain is down-sampled
    assert(rows.exists { case (_, _, total, sampled, _) => sampled < total })
  }

  test("domain weight: a source with no numeric suffix gets the cap instead of failing the cast") {
    // under ANSI a plain cast of "mple.com" throws CAST_INVALID_INPUT
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val sources = Seq(Some("src7"), Some("example.com"), Some("src-1"), Some("src" + "9" * 19), None)
    val weights = sources.toDF("source").select(CorpusOps.domainWeightCol).as[Long].collect().toSeq
    // the 19-digit suffix is read as its first 10 digits, as DuckDB's twin does
    assert(weights == Seq(400000L, 1000000L, 0L, 1000000L, 1000000L))
  }

  test("q_shuffle_shard: a permutation — dense per-shard positions, all docs exactly once") {
    val rows = q("q_shuffle_shard").select("doc_id", "shard", "pos")
      .as[(Long, Long, Long)].collect()
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.length == Tables.documents(spark, sfDir).count())
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq,
        s"shard $shard positions not dense 1..${rs.length}")
    }
    // order is decorrelated from doc_id: the first-by-position doc of some
    // shard is not just the smallest id in that shard
    val firsts = rows.filter(_._3 == 1L).map(_._1).toSet
    val minIds = rows.groupBy(_._2).values.map(_.map(_._1).min).toSet
    assert(firsts != minIds, "training order degenerated to id order")
  }

  test("q_pagerank: ranks differentiate, respect the teleport floor, and conserve mass") {
    val ranks = q("q_pagerank").select("rank_micro").as[Long].collect()
    assert(ranks.length == 100)
    assert(ranks.distinct.length > 1, "regular-graph degenerate case: all ranks equal")
    assert(ranks.forall(_ >= 150000L), "rank below the 0.15 teleport floor")
    // mass: integer truncation only ever loses rank, so the top-100 sum is
    // bounded by total injected mass
    val n = Tables.documents(spark, sfDir).count()
    assert(ranks.sum <= n * 1000000L)
  }

  test("q_pagerank edge rule: every node keeps an in-link even when 7 divides n") {
    // regression: the original dst = (7·id+k) mod n only reaches residues
    // {1,2,3} mod 7 when gcd(7, n) > 1, so 4/7 of the nodes silently drop
    // out of the join-based propagation after round 1. The additive shift
    // (id + 7k) mod n is a bijection in its k=1 stratum for EVERY n.
    val n = 21L // 7 | n — the degenerate case for a multiplicative stride
    val dst = spark.range(n).select(col("id"),
        explode(expr("sequence(1, cast(1 + id % 3 as int))")).as("k"))
      .select(((col("id") + col("k") * 7) % n).as("dst"))
      .select("dst").distinct().as[Long].collect()
    assert(dst.length == n, s"only ${dst.length}/$n nodes have in-links")
  }

  test("q_caption_pairs: one pair per media doc; caption is the sentence after the splice point") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val pairs = q("q_caption_pairs")
      .select("doc_id", "media_ref", "pos", "caption")
      .as[(Long, String, Long, String)].collect()
    val mediaDocs = docs.keySet.filter(_ % 3 == 0)
    assert(pairs.map(_._1).toSet == mediaDocs)
    assert(pairs.length == mediaDocs.size)
    pairs.foreach { case (id, ref, pos, caption) =>
      assert(ref == s"media://img/$id")
      val parts = docs(id).split("\\. ", -1)
      assert(pos == id % parts.length)
      assert(caption == parts((id % parts.length).toInt), s"doc $id caption mismatch")
    }
  }

  test("q_semdedup: partition per cell — kept + dropped = total, a keeper in every cell") {
    val rows = q("q_semdedup").select("cid", "total", "kept", "dropped")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (cid, total, kept, dropped) =>
      assert(kept + dropped == total, s"cell $cid: $kept + $dropped != $total")
      // the min-id of any non-empty cell is never dominated, so >= 1 survives
      assert(kept >= 1, s"cell $cid dropped everything")
    }
    assert(rows.map(_._2).sum == Tables.embeddings(spark, sfDir).count())
  }
}
