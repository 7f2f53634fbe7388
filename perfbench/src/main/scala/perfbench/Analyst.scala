package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** analyst_scan_10x: the data-bound read path. A seeded shuffle of the
  * relational dashboard queries runs over the factor-10 corpus (`inputs`),
  * reshuffled after every full pass. A pass in progress is finished when
  * the window closes: query costs differ tenfold, so a run that stopped
  * mid-pass would report a different query mix per seed. Each query is planned (forcing the
  * executed plan) and then collected in full: the result is what the
  * analyst receives, so nothing downstream of it can be pruned away. The
  * first result of each query is kept for the oracle check. */
final class Analyst(ctx: Ctx) extends Workload {
  private val rng = new scala.util.Random(ctx.seed)
  private var order: Iterator[String] = Iterator.empty
  private var seq = 0L
  private val firstResult = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

  private def run(dir: String, q: String): (Array[Row], StructType) = {
    val df = ctx.span("queries.plan") {
      val d = graft.SparkEntry.allDefs(q).build(ctx.spark, dir)
      d.queryExecution.executedPlan
      d
    }
    (ctx.span("queries.exec")(df.collect()), df.schema)
  }

  override def midRound: Boolean = order.hasNext

  /** No program state to build (the corpus is input): one pass plans and
    * runs every query once on the base corpus, warming codegen. */
  def setup(): Unit = Analyst.Queries.foreach(run(ctx.testdata, _))

  def step(loop: Loop): Unit = {
    if (!order.hasNext) order = rng.shuffle(Analyst.Queries).iterator
    val q = order.next()
    ctx.tracer.setOp(seq)
    seq += 1
    loop.timed(q) {
      val res = run(ctx.inputs, q)
      if (!firstResult.contains(q)) firstResult(q) = res
      1L
    }
  }

  def finish(loop: Loop): Outcome = {
    val oracle = firstResult.toSeq.map { case (q, (rows, schema)) =>
      val got = s"${ctx.out}/analyst_$q"
      ctx.spark.createDataFrame(rows.toSeq.asJava, schema).write.parquet(got)
      Map("name" -> q, "got" -> got)
    }
    Outcome(Nil, oracle, Map("queries_checked" -> oracle.size.toDouble))
  }
}

object Analyst {
  /** The relational dashboard queries that pass their DuckDB oracle on the
    * factor-10 corpus. */
  val Queries = Seq("a1_customer_order_profile", "a4_multidim_revenue", "j1_customer_360",
    "w8_rank_top_parts", "sql4_local_supplier_volume", "sql6_pricing_summary",
    "j10_asof_join", "w3_sessionize", "cf1_churn_features", "rv1_revenue_rollup")
}
