package graft.operators

import graft.SparkTestBase
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Connected-components (dedup clustering) semantics: min-label propagation
  * must close chains (a–b–c collapses to ONE keeper — the case a pairwise
  * min rule over-deletes), keep disjoint components apart, and converge in
  * ~diameter rounds on long paths.
  */
class DedupClusterSpec extends SparkTestBase {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    DedupOps.connectedComponents(pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain collapses to one component labeled by its min id") {
    // 1-2, 2-3 and an unrelated pair 10-11
    val labels = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long path (diameter 12) converges, labeled by its min id") {
    val path = (1L to 12L).sliding(2).map(w => (w(1), w(0))).toSeq // reversed edges
    val labels = cc(path)
    assert(labels.keySet == (1L to 12L).toSet)
    assert(labels.values.toSet == Set(1L))
  }

  test("pointer jumping: a 200-link chain closes in O(log d) rounds, not 200") {
    import spark.implicits._
    val path = (1L to 200L).sliding(2).map(w => (w(0), w(1))).toSeq
    val (labels, rounds) = DedupOps.connectedComponentsWithStats(path.toDF("doc_a", "doc_b"))
    assert(labels.collect().map(_.getLong(1)).toSet == Set(1L))
    // log2(200) ~ 8 doubling rounds + slack + the final proof round; plain
    // propagation would need ~200
    assert(rounds <= 14, s"took $rounds rounds")
  }

  test("empty pair set yields an empty labeling (no iteration blowup)") {
    assert(cc(Seq.empty).isEmpty)
  }

  test("seeded start folds the first propagation in: disjoint pairs prove in ONE round") {
    // label₀ = min(self, neighbors) already labels every 2-clique by its
    // min, so the settled check before the loop is the proof round
    val (labels, rounds) = DedupOps.connectedComponentsWithStats(
      Seq((2L, 1L), (5L, 9L), (7L, 8L)).toDF("doc_a", "doc_b"))
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 9L -> 5L, 7L -> 7L, 8L -> 7L))
    assert(rounds == 1, s"seeded start should converge pairs in one proof round, took $rounds")
  }

  /** Driver-side union-find; each set's root is its minimum. */
  private def minLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toList.map(x => x -> find(x)).toMap
  }

  // one component over the given node order: a chain, a star around the
  // first node, or disjoint pairs (isolated edges)
  private val shapeGen: Gen[List[Long] => Seq[(Long, Long)]] = Gen.oneOf(
    (ns: List[Long]) => ns.zip(ns.tail),
    (ns: List[Long]) => ns.tail.map(ns.head -> _),
    (ns: List[Long]) => ns.grouped(2).collect { case List(a, b) => (a, b) }.toSeq)

  private def componentsGen(ns: List[Long]): Gen[List[(Long, Long)]] =
    if (ns.length < 2) Gen.const(Nil) // a leftover node stays isolated
    else for {
      k <- Gen.choose(2, math.min(10, ns.length))
      shape <- shapeGen
      rest <- componentsGen(ns.drop(k))
    } yield shape(ns.take(k)).toList ++ rest

  // ≤ 40 nodes: small ids mixed with arbitrary 64-bit ones, in random
  // order (so chains and stars are rarely sorted), edges randomly flipped
  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 40)
    ids <- Gen.containerOfN[Set, Long](n, Gen.frequency(3 -> Gen.choose(0L, 200L), 1 -> Gen.long))
    keys <- Gen.listOfN(ids.size, Gen.long)
    edges <- componentsGen(ids.toList.zip(keys).sortBy(_._2).map(_._1))
    flips <- Gen.listOfN(edges.length, Gen.prob(0.5))
  } yield edges.zip(flips).map { case ((a, b), f) => if (f) (b, a) else (a, b) }

  test("property: labels equal a union-find by component minimum (settled check both ways)") {
    val rounds = (0L until 20L).map { i =>
      val edges = graphGen.apply(Gen.Parameters.default, Seed(i)).get
      val (labels, r) = DedupOps.connectedComponentsWithStats(edges.toDF("doc_a", "doc_b"))
      val got = labels.collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
      assert(got == minLabels(edges), s"seed $i, edges $edges")
      r
    }
    // an unsettled seed needs at least one changing round before the proof
    // round, so both sides of the exit test ran
    assert(rounds.contains(1) && rounds.exists(_ > 1), s"rounds per seed: $rounds")
  }

  test("q_dedup_clusters: cluster ids are component minima and sizes add up") {
    val df = SparkEntryAccess.query("q_dedup_clusters")(spark, sfDir)
    val rows = df.collect()
    if (rows.nonEmpty) {
      // every cluster id is a member of its own cluster (the min rule)
      val byCluster = rows.groupBy(_.getLong(1))
      byCluster.foreach { case (cid, members) =>
        assert(members.map(_.getLong(0)).min == cid)
        assert(members.forall(_.getLong(2) == members.length))
      }
      // clusters are a partition of the paired docs: sizes sum to row count
      assert(byCluster.values.map(_.length).sum == rows.length)
    }
  }

  test("curationRunStaged: the same input starts the same number of jobs on every run") {
    // the settled check evaluates the disagreeing edges once; a limit(1)
    // probe would start one job per partition batch it scans, a count that
    // follows AQE's runtime partitioning rather than the plan
    def run(): Int = {
      val stage = java.nio.file.Files.createTempDirectory("graft-cc-jobs").toString
      jobsDuring {
        val (curated, funnel) = DedupOps.curationRunStaged(spark, sfDir, stage)
        curated.write.parquet(s"$stage/curated")
        funnel.collect()
      }._2
    }
    val jobs = Seq.fill(5)(run())
    assert(jobs.distinct.size == 1, s"jobs per run: $jobs")
  }
}

private object SparkEntryAccess {
  def query(name: String): (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
    graft.SparkEntry.queries(name)
}
