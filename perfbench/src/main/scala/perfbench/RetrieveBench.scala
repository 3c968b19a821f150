package perfbench

import graft.SparkEntry
import org.apache.spark.sql.functions.{broadcast, col, expr}
import perfbench.Harness._

/** `retrieve`: the reference's query side, one request at a time — each the
  * `SparkEntry.queries(name)(spark, dir)` call forced by a noop write, in a
  * seeded order of the nine queries. Not a timed workload: only its traced
  * section runs, inside every traced run.
  */
object RetrieveBench extends Workload {
  val Queries: Seq[String] = Seq("q_dense_topk", "q_sparse_topk", "q_bm25_topk",
    "q_hybrid_search", "q_rerank", "q_rerank_remap", "q_context_budget",
    "q_prompt_build", "q_ann_ivf")

  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Queries)

  private def request(ctx: Ctx, name: String): Unit =
    force(SparkEntry.queries(name)(ctx.spark, ctx.input("retrieve")))

  override def warmup(ctx: Ctx): Unit = request(ctx, order(ctx.seed).head)

  /** `overhead` is never set: no traced run has `retrieve` as its workload. */
  override def trace(ctx: Ctx, tracer: Tracer, overhead: Boolean): Map[String, Double] = {
    val spark = ctx.spark
    val dir = ctx.input("retrieve")

    // functions: vec_dot over a cached (embedding, qvec) frame, the dense
    // scoring input, replicated so one pass is well above timer noise
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val frame = e.select(col("embedding")).crossJoin(spark.range(100).toDF("rep"))
      .crossJoin(broadcast(q)).select(col("embedding"), col("qvec")).cache()
    val rows = frame.count()
    val vecDotNs = exprCostNs(tracer, "vec_dot", rows, 7,
      frame.select(col("embedding"), col("qvec")),
      frame.select(col("embedding"), col("qvec"), expr("vec_dot(embedding, qvec)")))
    frame.unpersist()

    // operators: every request split into analyze / plan / execute, after
    // one untraced cycle
    val ord = order(ctx.seed)
    ord.foreach(request(ctx, _))
    for (name <- ord) {
      tracer.span(s"operators.$name") {
        val df = tracer.span("operators.analyze")(SparkEntry.queries(name)(spark, dir))
        tracer.span("operators.plan")(df.queryExecution.executedPlan)
        tracer.span("operators.exec")(force(df))
      }
    }
    val reqs = tracer.spans.filter(s => Queries.exists(q => s.name == s"operators.$q"))
    val parts = tracer.spans.groupBy(_.name)
    def p50(name: String) = median(parts(name).map(_.seconds))
    val counters = reqs.map(tracer.counters)
    Map(
      "functions.vec_dot_ns" -> vecDotNs,
      "operators.analyze_s" -> p50("operators.analyze"),
      "operators.plan_s" -> p50("operators.plan"),
      "operators.exec_s" -> p50("operators.exec"),
      "operators.stages_per_request" -> counters.map(_.stages).sum.toDouble / reqs.length,
      "operators.tasks_per_request" -> counters.map(_.tasks).sum.toDouble / reqs.length) ++
      Queries.map(q => s"operators.$q.p50_s" -> p50(s"operators.$q"))
  }
}
